"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions of JVM built-ins — no Python
UDFs — so they scale with partition count and stay in whole-stage codegen.

Scale design (100 TB corpus posture):

- **exact**: one shuffle on a 60-bit content hash; group keys are
  fixed-width longs, not full documents — the shuffle carries (hash,
  doc_id), never text.
- **minhash/LSH**: per-doc work is linear in shingle count; the candidate
  join shuffles on (band_id, band_signature) buckets, which is the whole
  point of LSH — candidate pairs ~ O(true-dups), not O(n^2).  At 100 TB you
  additionally salt mega-buckets (a near-empty-text bucket can explode);
  ``explode`` before the bucket join keeps rows narrow.
- **simhash**: signature is a single long per doc; Hamming-ball search
  blocks on signature prefixes (here: language) to avoid n^2.
- **ngram_jaccard**: exact verifier — always run it *after* a candidate
  generator (LSH buckets or blocking keys), never standalone at scale.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import HASH_PRIME, MINHASH_PARAMS, md5_long, md5_long_lo

_LOG = logging.getLogger(__name__)


def spread_partitions(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition up to the session's default parallelism if the scan is
    narrower than that.

    Compute-heavy per-document operators (minhash, simhash, fingerprints)
    are shuffle-free, so their parallelism equals the *input* partition
    count — a single small parquet file would otherwise pin all hash work
    to one core.  At real scale the input already has >= cores partitions
    and this is a no-op; the condition keeps the extra shuffle off the
    100 TB path.
    """
    if df.isStreaming:
        # partition-count introspection (df.rdd) is illegal on a stream,
        # and micro-batch parallelism is the source's job (e.g.
        # maxFilesPerTrigger / kafka partitions) — pass through unchanged
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
    return df


#: Estimated-size gate for :func:`pin_frame`'s executor-local pin, in
#: bytes (conf-overridable).  Below it the pin is ``localCheckpoint``
#: — fastest, executor-local, NON-recomputable on executor loss, the
#: right trade for bounded/test-scale frames.  At or above it the
#: frame routes to a RECOVERABLE materialization instead.
PIN_MAX_LOCAL_BYTES = 8 * 1024**3


def pin_frame(df: DataFrame) -> DataFrame:
    """Materialize an intermediate once, sized for survivability
    (optimization r18, guide §5 — closes the r17 verdict's #1 concern:
    ``localCheckpoint`` on an INPUT-SIZED frame is a fault-tolerance
    and storage exposure at 100 TB, because executor-local blocks are
    non-recomputable on executor loss).

    Routing, by the optimizer's size estimate of the frame:

    - estimate < ``spark.graft.pin.maxLocalBytes`` (default
      :data:`PIN_MAX_LOCAL_BYTES`): ``localCheckpoint`` — the r17
      behavior; every bench/test scale lands here, so measured plans
      and numbers are unchanged.
    - estimate at/above the gate with ``spark.graft.pin.checkpointDir``
      set: RELIABLE ``checkpoint()`` into that directory — the
      multi-hour-job posture (the :func:`connected_components`
      ``checkpoint_dir`` contract, applied to the corpus-sized pins).
    - estimate at/above the gate, no checkpoint dir: ``persist
      (DISK_ONLY)`` + one eager count — blocks spill to executor
      disks but LINEAGE IS KEPT, so an executor loss recomputes the
      lost partitions instead of killing the job.  (Unreachable at
      bench scale, so the bench never reads a warm cache across its
      min-of-3 runs; on a long-lived cluster session the CacheManager
      reuse this enables is the desired production behavior.)

    Values are identical on every route — all three only change WHERE
    the one materialization lives (gate + routes pinned by
    test_pin_frame_routes_by_size).
    """
    spark = df.sparkSession
    try:
        gate = int(
            spark.conf.get(
                "spark.graft.pin.maxLocalBytes", str(PIN_MAX_LOCAL_BYTES)
            )
        )
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # estimate unavailable: keep the r17 behavior
        return df.localCheckpoint()
    if est < gate:
        return df.localCheckpoint()
    ckpt_dir = spark.conf.get("spark.graft.pin.checkpointDir", "")
    if ckpt_dir:
        sc = spark.sparkContext
        sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.DISK_ONLY)
    df.count()  # eager build — consumers read the materialized blocks
    return df


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, strip punctuation,
    collapse whitespace."""
    out = F.lower(col)
    out = F.regexp_replace(out, r"[^\p{L}\p{N}\s]", " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def exact_dedup_stats(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-group exact-duplicate accounting over normalized text.

    The dedup itself is ``dropDuplicates`` on the content hash; this
    operator reports (n_docs, n_distinct, n_dup_docs) per group so a
    pipeline can monitor dup rates.  Hashing first means the distinct
    aggregation shuffles 16 bytes/row (a 120-bit two-long content key —
    one 60-bit half collides near 2^30 docs), not document text.

    The distinct is counted over a STRUCT of the two hash halves, not the
    bare column pair: ``countDistinct(h1, h2)`` skips rows where the
    hashes are NULL (null text), whereas SQL engines count the
    ``(NULL, NULL)`` tuple as one distinct value — the struct wrapper is
    itself non-null, so null-text documents form exactly one distinct
    content group in both engines.
    """
    norm = normalized_text(F.col(text_col))
    h1 = md5_long(norm).alias("content_h1")
    h2 = md5_long_lo(norm).alias("content_h2")
    key = F.struct("content_h1", "content_h2")
    return (
        docs.select(F.col(group_col), h1, h2)
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(key).alias("n_distinct"),
            (F.count("*") - F.countDistinct(key)).alias("n_dup_docs"),
        )
    )


def word_shingles_sql(col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles of a text SQL expression, as SQL
    text for ``F.expr`` (optimization r18, guide §4: one JVM parse
    instead of ``n-1`` py4j lambda builds per call site).

    Built by ``zip_with``-ing the token array against its own shifted
    slices (n-1 linear passes), then truncating to the size-(n-1) full
    n-grams.  Never index into the token array from inside a per-element
    lambda: a captured column expression (the split) is re-evaluated *per
    element* there — measured ~30x slower on 300-char docs.  Docs with
    < n tokens yield an empty array (pinned against Python-computed
    shingles by test_word_shingles_sql_twin_parity)."""
    toks = f"split(trim({col}), '\\\\s+')"
    grams = toks
    for k in range(1, n):
        shifted = f"slice({toks}, {k + 1}, greatest(size({toks}) - {k}, 0))"
        grams = f"zip_with({grams}, {shifted}, (x, y) -> concat_ws(' ', x, y))"
    full = f"slice({grams}, 1, greatest(size({toks}) - {n - 1}, 0))"
    return (
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct({full}) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _md5_long_sql(expr: str) -> str:
    """Spark-SQL twin of :func:`~..functions.hashing.md5_long`."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(doc_id, h_idx, minhash) — the k-row-per-doc MinHash signature.

    shingle -> 60-bit md5 hash -> k universal hashes -> min per function,
    computed as ONE ``aggregate`` pass over the per-doc shingle array: the
    accumulator is the k-vector of running minima, updated per shingle with
    ``zip_with(acc, candidates(h), least)``.  Zero shuffles, no row
    explosion, and each md5 is evaluated exactly once — the k-fold work
    happens on 8-byte longs inside codegen.  (A previous formulation
    exploded shingles x k hash functions into a groupBy; that shuffled
    |docs| * |shingles| * k rows and was ~50x slower at sf0.1.)
    Documents with < shingle_n tokens produce no rows (no shingles).
    """
    # the shingle/hash/fold pipeline as THREE F.expr strings
    # (optimization r18, guide §4): the Column form paid ~8 py4j lambda
    # builds + a 16-struct params array per construct — and this
    # builder is constructed inside every dedup/curation/leakage/
    # streaming query.  Identical operators, identical integers (the
    # registered minhash_signatures oracle hash replays the whole
    # pipeline).
    shs = (
        f"array_remove({word_shingles_sql(f'`{text_col}`', shingle_n)}, '')"
    )
    sh = spread_partitions(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.expr(shs).alias("shs"),
    ).filter(F.size("shs") > 0)
    hashed = sh.select(
        "doc_id",
        F.expr(
            f"transform(shs, s -> {_md5_long_sql('s')} % {HASH_PRIME})"
        ).alias("hs"),
    )
    params = ",".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for _, a, b in MINHASH_PARAMS
    )
    sig = F.expr(
        f"aggregate(hs, array_repeat(CAST({HASH_PRIME} AS BIGINT), "
        f"{len(MINHASH_PARAMS)}), (acc, h) -> zip_with(acc, "
        f"transform(array({params}), p -> (p.a * h + p.b) % {HASH_PRIME}), "
        f"(x, y) -> least(x, y)))"
    )
    return hashed.select("doc_id", F.posexplode(sig).alias("h_idx", "minhash"))


def band_signatures(
    signatures: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """LSH band table: ``(doc_id, band_id, band_sig)`` — one row per
    (doc, band), ``band_sig`` the ordered concat of the band's
    minhashes.

    Factored out of :func:`minhash_candidate_pairs` (r15) so the
    INCREMENTAL pair path (:func:`incremental_minhash_pairs`) buckets
    a delta batch with the exact same key the full pipeline uses —
    this frame is also the state a 100 TB ingest persists between
    runs (the near-dup sibling of :func:`incremental_dedup`'s content
    key set): delta docs join it by ``(band_id, band_sig)`` instead of
    re-banding the corpus.
    """
    return (
        signatures.withColumn(
            "band_id", (F.col("h_idx") / rows_per_band).cast("int")
        )
        .groupBy("doc_id", "band_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("h_idx", "minhash"))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
            ).alias("band_sig")
        )
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """LSH banding: (doc_a, doc_b) pairs sharing >=1 band signature.

    Band signature = ordered concat of the band's minhashes.  Pairs are
    generated WITHOUT a self-join: group docs per (band_id, band_sig)
    bucket, then enumerate intra-bucket pairs with array lambdas — one
    aggregation pipeline instead of re-running the whole signature plan on
    both join sides (Spark does not dedupe common subplans across a
    self-join, so the join form computed every signature twice).  Bucket
    membership lists are small by LSH design (a bucket IS a near-dup
    group).

    **Mega-bucket safety** (``max_bucket``, default 1000): an adversarial
    bucket — e.g. near-empty normalized text at corpus scale — would make
    the all-pairs enumeration quadratic in ONE task (a 10M-doc bucket is
    5*10^13 pairs; the job would never finish).  Buckets larger than
    ``max_bucket`` instead emit a STAR: every member pairs with the
    bucket's minimum doc_id only — linear edges, computed from a
    map-side-combinable (count, min) aggregate with **no** collect_list
    on the mega bucket.  For the dominant consumer (connected-components
    clustering) a star is EXACTLY equivalent to the clique — same
    components — so ``dedup_pipeline_end_to_end`` semantics are
    unaffected at any bucket size; only the raw pair list for an
    oversized bucket is the reduced (still spanning) edge set.  Bucket
    sizes are observable via :func:`lsh_bucket_stats` — at 100 TB, chart
    it before loosening the cap.  ``max_bucket=None`` disables the guard.
    """
    return banded_candidate_pairs(
        band_signatures(signatures, rows_per_band), max_bucket,
        materialize=True,
    )


def banded_candidate_pairs(
    banded: DataFrame, max_bucket: int | None = 1000,
    materialize: bool = False,
) -> DataFrame:
    """:func:`minhash_candidate_pairs`' pair-enumeration half over an
    already-built :func:`band_signatures` table — factored out (r15)
    so a caller that ALSO needs the band table as state (the
    incremental-closure query feeds it to
    :func:`incremental_minhash_pairs`) materializes the banding once
    instead of re-running the signature pipeline per consumer.
    Identical semantics and mega-bucket star policy.

    ``materialize`` (optimization r17, guide §2.4/§8): the mega-bucket
    guard references ``banded`` from FOUR subtrees (the stats
    aggregate plus the stats join, each under both the small-bucket
    and star branches), and Spark plans every reference independently
    — measured at sf0.1, the pair plan held EIGHT parquet scans of the
    corpus, i.e. the whole shingle→md5→minhash-fold pipeline ran 4x.
    ``materialize=True`` pins the band table once (eager
    ``localCheckpoint``; values unchanged — it only cuts lineage), so
    the corpus text is read ONCE and every branch replays the compact
    ``(doc_id, band_id, band_sig)`` proxy — the guide-§8 shape
    (decide on fingerprints, not payloads).  Callers whose ``banded``
    is already a cheap at-rest scan (a parquet/bucketed STATE table)
    keep the default ``False``: re-scanning small state files beats a
    checkpoint, and checkpointing a BUCKETED scan would discard the
    at-rest partitioning that makes the incremental probes
    exchange-free.

    The band table is INPUT-SIZED (docs x bands rows), so the pin
    routes through :func:`pin_frame` (r18): localCheckpoint below the
    size gate (every bench/test scale), reliable checkpoint or
    DISK_ONLY persist above it — recoverable on executor loss at the
    100 TB posture."""
    if materialize:
        banded = pin_frame(banded)
    if max_bucket is None:
        small = banded.groupBy("band_id", "band_sig").agg(
            F.array_sort(F.collect_list("doc_id")).alias("ids")
        )
        star = None
    else:
        # (count, min) per bucket is a partial-aggregatable stats pass;
        # the join back is co-partitioned on the same bucket key, so the
        # mega bucket's rows stream through filters — never buffered.
        stats = banded.groupBy("band_id", "band_sig").agg(
            F.count("*").alias("bn"), F.min("doc_id").alias("bmin")
        )
        joined = banded.join(stats, ["band_id", "band_sig"])
        small = (
            joined.filter(F.col("bn") <= max_bucket)
            .groupBy("band_id", "band_sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        )
        star = (
            joined.filter(
                (F.col("bn") > max_bucket) & (F.col("doc_id") != F.col("bmin"))
            )
            .select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
    buckets = small.filter(F.size("ids") > 1)
    # ids is a materialized attribute, so referencing it inside the lambda
    # is free (unlike an inlined expression); ascending sort makes every
    # (earlier, later) pair satisfy doc_a < doc_b by construction.
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arr).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def lsh_bucket_stats(
    signatures: DataFrame, rows_per_band: int = 4, top_n: int = 20
) -> DataFrame:
    """Largest LSH buckets: (band_id, band_sig, n_docs) — the monitoring
    companion to :func:`minhash_candidate_pairs`'s ``max_bucket`` guard.
    Run it when starred-bucket output is suspected; at 100 TB this is the
    query that tells you whether the corpus has a degenerate text mode
    (empty pages, boilerplate) before it becomes a shuffle problem.
    """
    return (
        signatures.withColumn("band_id", (F.col("h_idx") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h_idx", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
            ).alias("band_sig")
        )
        .groupBy("band_id", "band_sig")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "band_id", "band_sig")
        .limit(top_n)
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 56
) -> DataFrame:
    """(doc_id, simhash) — frequency-weighted SimHash fingerprint.

    Each token votes ±1 per bit position of its 60-bit hash; the signature
    sets bit i where the vote sum is positive.  ``bits`` stays < 63 so the
    signature fits a signed long in every engine.

    Computed as ONE ``aggregate`` pass per document: the accumulator is the
    per-bit vote vector, updated per token with ``zip_with(acc, votes(h),
    +)`` against a literal bit-mask array — zero shuffles, no explosion,
    one md5 per token.  (Previous formulation exploded tokens x bit
    positions into a groupBy — |docs| * |tokens| * bits shuffled rows.)
    """
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    toks = spread_partitions(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(F.split(F.trim(F.col(text_col)), "\\s+"), "").alias("ws"),
    ).filter(F.size("ws") > 0)
    hashed = toks.select(
        "doc_id", F.transform("ws", lambda w: md5_long(w)).alias("hs")
    )
    one, neg = F.lit(1).cast("long"), F.lit(-1).cast("long")
    votes = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks, lambda m: F.when(h.bitwiseAND(m) != 0, one).otherwise(neg)
            ),
            lambda x, y: x + y,
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return hashed.select("doc_id", sig.alias("simhash"))


def blocked_self_pairs(items: DataFrame, n_salts: int = 8) -> DataFrame:
    """All (a, b) pairs with ``a.blk == b.blk`` and ``a.doc_id < b.doc_id``,
    with parallelism beyond the number of blocks (triangle salting).

    A plain self-join on the block key caps parallelism at #blocks (the
    reference domain has ~4 languages -> 4 tasks no matter the cluster).
    Instead each row gets salt s = doc_id mod S and is replicated into the
    S triangle cells {(min(s,j), max(s,j)) : j < S}; the join key becomes
    (blk, cell) — #blocks x S(S+1)/2 independent shuffle groups.  Every
    cross-salt pair meets in exactly one cell; same-salt pairs are kept
    only in the diagonal cell (cx == cy) to avoid duplicates.

    ``items`` must carry ``doc_id`` and ``blk``; all other columns are
    passed through with ``a_`` / ``b_`` prefixes.
    """
    payload = [c for c in items.columns if c not in ("doc_id", "blk")]
    salted = items.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int"))
    cells = F.transform(
        F.sequence(F.lit(0), F.lit(n_salts - 1)),
        lambda j: F.struct(
            F.least(F.col("salt"), j).alias("cx"),
            F.greatest(F.col("salt"), j).alias("cy"),
        ),
    )
    exp = salted.withColumn("cell", F.explode(cells))
    a = exp.select(
        F.col("blk"),
        F.col("cell"),
        F.col("salt").alias("a_salt"),
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"a_{c}") for c in payload],
    )
    b = exp.select(
        F.col("blk").alias("b_blk"),
        F.col("cell").alias("b_cell"),
        F.col("salt").alias("b_salt"),
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"b_{c}") for c in payload],
    )
    return a.join(
        b,
        (F.col("blk") == F.col("b_blk"))
        & (F.col("cell") == F.col("b_cell"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (
            (F.col("a_salt") != F.col("b_salt"))
            | (F.col("cell.cx") == F.col("cell.cy"))
        ),
    ).drop("b_blk", "b_cell", "a_salt", "b_salt")


def simhash_near_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    max_hamming: int = 16,
    bits: int = 56,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within blocking groups."""
    sig = simhash_signatures(docs, bits=bits).join(
        docs.select(F.col("doc_id"), F.col(block_col).alias("blk")), "doc_id"
    )
    pairs = blocked_self_pairs(sig)
    ham = F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash")))
    return pairs.select(
        "doc_a", "doc_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def fuzzy_string_pairs(
    items: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 3,
    n_salts: int = 8,
) -> DataFrame:
    """Blocked approximate-string matching — the entity-resolution shape.

    Near-identical NAMES (titles, authors, products, addresses) are the
    curation dup class that token/shingle dedup misses: the strings are
    too short for shingles but differ by a typo or one word.  The
    classic two-phase ER answer: a cheap BLOCKING key (here any caller
    expression — last word, phonetic code, length band) bounds the
    candidate space, then exact Levenshtein verifies within blocks —
    never all-pairs.

    Returns ``(id_a, id_b, name_a, name_b, lev_dist)`` for every
    same-block pair at edit distance <= ``max_dist`` (``id_a < id_b``).

    Scale shape: pair generation reuses :func:`blocked_self_pairs` —
    the triangle-salted self-join whose parallelism is #blocks x
    S(S+1)/2 cells rather than #blocks — and ``levenshtein`` is a JVM
    built-in evaluated only on same-block candidates.  Work per block
    is quadratic in block size BY DESIGN (verification is the point),
    so block-key choice is the scale lever; a pathological mega-block
    should be df-capped upstream like the LSH ``max_bucket`` star
    policy (filter blocks above a count threshold into a review
    channel instead of verifying them inline).
    """
    base = items.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("blk"),
        F.col(text_col).alias("name"),
    )
    pairs = blocked_self_pairs(base, n_salts=n_salts)
    return (
        pairs.select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.col("a_name").alias("name_a"),
            F.col("b_name").alias("name_b"),
            F.levenshtein("a_name", "b_name").alias("lev_dist"),
        )
        .filter(F.col("lev_dist") <= max_dist)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    shingle_n: int = 3,
    min_jaccard: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over blocked pairs.

    J = |A ∩ B| / |A ∪ B| on distinct word n-gram sets — the exact
    verifier stage after LSH candidate generation.

    Computed as an **inverted-index (token) similarity join**, the only
    formulation that scales: explode to (shingle-hash, doc) postings,
    self-join on the hash so docs meet once per *shared* shingle, then
    ``|∩| = count`` per pair and ``|∪| = |A| + |B| - |∩|``.  Any pair with
    J > 0 shares a shingle, so candidate volume is proportional to true
    overlap (sum over shingles of postings²), not to |block|² — a
    pairwise-compare formulation (even salted and hashed) spent minutes
    at sf0.1 evaluating 14M array intersections; this runs in seconds and
    its shuffle carries only 8-byte longs.

    **Frequent-shingle skew guard** (``max_df``): a shingle appearing in
    k docs contributes k² postings-join rows — one boilerplate sentence
    shared by a million pages is a 10^12-row hot key.  With ``max_df``
    set, shingles whose document frequency exceeds it are EXCLUDED from
    candidate generation (classic df-based prefix filtering), and the
    Jaccard of each surviving candidate is then re-verified EXACTLY from
    the two docs' full shingle arrays (``array_intersect``), so every
    reported score is identical to the unfiltered computation.  The
    recall contract: a pair sharing *only* ultra-frequent shingles is
    not reported — by construction its overlap is corpus-wide
    boilerplate, not document similarity.  ``max_df=None`` (default)
    keeps the fully exact single-pass form.
    """
    sh = spread_partitions(docs, "doc_id").select(
        F.col("doc_id"),
        F.col(block_col).alias("blk"),
        F.expr(
            f"transform({word_shingles_sql('text', shingle_n)}, "
            f"s -> {_md5_long_sql('s')})"
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    postings = sh.select(
        "doc_id", "blk", F.size("sh").alias("n"), F.explode("sh").alias("h")
    )
    if max_df is None:
        a, b = postings.alias("a"), postings.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.blk") == F.col("b.blk"))
                & (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
        jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        return (
            pairs.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard)
        )
    # document frequency per shingle hash: partial-aggregatable, 8-byte
    # keys; rare = discriminative, so rare-only candidate generation
    # prunes the quadratic hot keys while keeping any pair that shares
    # at least one sub-threshold shingle
    df_tbl = postings.groupBy("blk", "h").agg(F.count("*").alias("df"))
    rare = postings.join(
        df_tbl.filter(F.col("df") <= max_df), ["blk", "h"]
    ).select("doc_id", "blk", "h")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact re-verification: ship the two shingle arrays once per
    # candidate (candidates ~ true near-dups, so this is the small side)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
    )
    return verified.select("doc_a", "doc_b", "jaccard").filter(
        F.col("jaccard") >= min_jaccard
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    local_threshold: int = 1_000_000,
    telemetry: list | None = None,
) -> DataFrame:
    """Transitive closure of duplicate pairs: (doc_id, component_id).

    ``minhash_candidate_pairs`` emits edges; dedup policy usually wants
    *clusters* (A~B, B~C => {A,B,C} keep one).  This is iterative
    min-label propagation — the simple variant of the large-star/small-
    star map-reduce CC algorithm (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"): every node repeatedly adopts
    the minimum label in its closed neighborhood until fixpoint.

    Each round is one join + one groupBy over the EDGE set (neighbor-min
    propagation) plus one self-join over the LABEL set (pointer jumping:
    every node re-adopts its label's own label, halving pointer chains),
    which for dedup graphs is O(true duplicates) — tiny relative to the
    corpus.  The jump step makes convergence O(log diameter) instead of
    O(diameter): a 50-hop chain closes in ~7 rounds, not 50 (classic
    Shiloach-Vishkin shortcutting; same trick as the large-star operation
    in Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond").  Lineage is cut every round so round N doesn't replan
    rounds 1..N-1.  Driver-side per round: one boolean convergence
    count, never data.  Raises ``RuntimeError`` if the propagation has
    not converged after ``max_iters`` rounds — a silently-split
    component would make dedup keep multiple copies of one cluster,
    which is strictly worse than failing loudly.

    **Fault tolerance**: the default lineage cut is ``localCheckpoint``
    (executor-local blocks — fastest, fine for single-node and short
    jobs, but on a real cluster an executor loss mid-iteration kills the
    job with no recompute path).  Pass ``checkpoint_dir`` (HDFS/S3/local
    path) to use RELIABLE ``checkpoint()`` instead: each round's edge
    and label sets persist to the shared filesystem, surviving executor
    loss — the setting you want for a multi-hour 100 TB closure.

    **Adaptive small-graph path** (``local_threshold``, default 1M
    edges): the dedup edge set is O(true duplicates) — usually ORDERS OF
    MAGNITUDE smaller than the corpus — and each distributed round costs
    several job launches regardless of size.  When the materialized edge
    count is at or under the threshold (and ids are integral), the
    closure runs as a driver-side union-find instead: the half-edge set
    arrives as two Arrow int64 columns via ``toPandas`` (~16 bytes/edge
    → ~16 MB at the 1M default; NOT collected as Python Row objects,
    whose per-row overhead would be ~10x that), path-compressed in
    microseconds, result re-parallelized.  This is the classic hybrid
    every production graph system ships — pay the distributed machinery
    only when the graph needs it.  Identical output contract
    (min-member component ids, pinned by a both-paths parity test that
    includes SELF-LOOP pairs — doc_a == doc_b emits (node, node) on
    both paths); set ``local_threshold=0`` to force the distributed
    path.  The decision input (one edge count over the
    already-checkpointed edge set) is free — the first propagation
    round needed the same materialization anyway.

    **Telemetry** (r6, verdict #7): pass a list as ``telemetry`` and the
    closure appends one dict per round — ``{"round": i,
    "labels_changed": n, "path": "distributed"}`` (or a single
    ``{"path": "local", "n_edges": m}`` entry for the adaptive path) —
    and logs the same through the module logger, so a multi-hour 100 TB
    run can be watched round by round instead of going dark until
    fixpoint.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir is not None
            else df.localCheckpoint()
        )

    edges = _cut(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        # materialize once: every propagation round (and its convergence
        # count) re-reads the edge set, and `pairs` is usually the tail of
        # an expensive candidate-generation pipeline (minhash -> banding
        # -> bucket join) that must not re-execute per round
    )
    integral_ids = isinstance(
        edges.schema["src"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    )
    n_edges = edges.count() if local_threshold and integral_ids else None
    if n_edges is not None and n_edges <= local_threshold:
        if telemetry is not None:
            telemetry.append({"path": "local", "n_edges": n_edges})
        _LOG.info("connected_components: local union-find over %d edges", n_edges)
        # src <= dst (NOT <): a self-loop pair (doc_a == doc_b) must
        # still register the node so it emits (node, node), matching the
        # distributed path (ADVICE r5).  Arrow transfer: two int64
        # columns, 16 bytes/edge — no Python Row overhead.
        half = edges.filter(F.col("src") <= F.col("dst")).toPandas()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(half["src"].to_numpy(), half["dst"].to_numpy()):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # min root wins
        comp_min: dict[int, int] = {}
        for node in parent:
            root = find(node)
            comp_min[root] = min(comp_min.get(root, node), node)
        # Return through the ARROW createDataFrame path (pandas input),
        # not a Python tuple list (optimization r17, guide §4): the
        # pickled-list relation re-launches 32 Python workers on EVERY
        # downstream action just to deserialize rows (measured ~7 s of
        # task time per evaluation at 60k labels; the Arrow relation
        # evaluates JVM-side).  Values and schema are identical.
        import pandas as pd

        nodes = list(parent)
        pdf = pd.DataFrame(
            {
                "doc_id": pd.array(nodes, dtype="int64"),
                "component_id": pd.array(
                    [comp_min[find(n)] for n in nodes], dtype="int64"
                ),
            }
        )
        return pairs.sparkSession.createDataFrame(
            pdf, "doc_id long, component_id long"
        )

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _round in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: follow the label one more hop (label-of-label).
        # labels only ever hold existing node ids (minima of node ids), so
        # the lookup hits; the left join + coalesce is belt-and-braces.
        jump = propagated.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        new_labels = _cut(
            propagated.join(jump, propagated.label == jump._jn, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_jl", F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if telemetry is not None:
            telemetry.append(
                {
                    "round": _round + 1,
                    "labels_changed": changed,
                    "path": "distributed",
                }
            )
        _LOG.info(
            "connected_components: round %d, %d labels changed",
            _round + 1,
            changed,
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"rounds ({changed} labels still changing) — component ids "
            "would be split; raise max_iters (rounds needed = graph "
            "diameter)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Label each new document against an existing corpus: the ingest-time
    dedup gate (new crawl snapshot vs what's already in the training set).

    Returns (id, status): ``dup_of_corpus`` (normalized content hash
    already present), ``dup_in_batch`` (first same-hash doc in this batch
    wins by lowest id), or ``kept``.  Corpus precedence over batch: a doc
    duplicated in both directions reports ``dup_of_corpus``.

    Scale shape: the corpus side reduces to a DISTINCT set of 120-bit
    content keys (two md5-half longs — a single 60-bit key collides near
    2^30 docs, see ``md5_long_lo``) before the join — the semi-join ships
    16 bytes/row, never text; within-batch dedup is a window min over the
    same key pair.  At 100 TB the corpus key set is the thing you persist
    between ingest runs (it is this pipeline's "bloom filter", exact
    instead of probabilistic).
    """
    from pyspark.sql.window import Window

    norm = normalized_text(F.col(text_col))
    h = [md5_long(norm).alias("content_h1"), md5_long_lo(norm).alias("content_h2")]
    hkeys = ["content_h1", "content_h2"]
    corpus_hashes = corpus.select(*h).distinct()
    batch = new_batch.select(F.col(id_col), *h)
    in_corpus = batch.join(
        corpus_hashes, hkeys, "left_semi"
    ).select(id_col).withColumn("_in_corpus", F.lit(True))
    w = Window.partitionBy(*hkeys)
    labeled = (
        batch.withColumn("_min_id", F.min(id_col).over(w))
        .join(in_corpus, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_in_corpus"), "dup_of_corpus")
            .when(F.col(id_col) > F.col("_min_id"), "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )
    return labeled


def incremental_minhash_pairs(
    delta_signatures: DataFrame,
    base_banded: DataFrame,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs for a DELTA batch against an existing
    corpus: ``(doc_a, doc_b)`` where at least one endpoint is a delta
    doc — the edges a full re-run would add on top of the base run's.

    ``base_banded`` is the persisted :func:`band_signatures` table of
    the already-deduped corpus (the maintainable state); the delta
    bands UNION it, then join against it by ``(band_id, band_sig)`` —
    so cost scales with the delta's bucket touches, never the corpus:
    the corpus is read only through its (small, key-only) band table,
    and only buckets a delta doc lands in produce work.  Together with
    the base run's own pairs this reproduces the full-corpus LSH edge
    set EXACTLY: full = base-base pairs (unchanged — signatures are
    content hashes) + delta-vs-(base ∪ delta) pairs (this function).

    **Mega-bucket safety** (the :func:`minhash_candidate_pairs` star
    policy, delta form): a union bucket larger than ``max_bucket``
    emits a STAR — every delta member pairs with the bucket's minimum
    doc_id, plus ONE (bucket-min, base-min) stitch edge when the
    bucket min is itself a delta doc — linear edges that span the
    bucket for the closure consumer exactly like the batch path's
    star (base members are already mutually connected by the base
    run).  ``max_bucket=None`` disables the guard.
    """
    db = band_signatures(delta_signatures, rows_per_band)
    allb = base_banded.unionByName(db)
    if max_bucket is None:
        cand = db.alias("d").join(
            allb.alias("u"), ["band_id", "band_sig"]
        ).filter(F.col("d.doc_id") != F.col("u.doc_id"))
        return cand.select(
            F.least("d.doc_id", "u.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "u.doc_id").alias("doc_b"),
        ).distinct()
    stats = allb.groupBy("band_id", "band_sig").agg(
        F.count("*").alias("bn"), F.min("doc_id").alias("bmin")
    )
    base_stats = base_banded.groupBy("band_id", "band_sig").agg(
        F.min("doc_id").alias("base_min")
    )
    d_stat = db.join(stats, ["band_id", "band_sig"])
    small = (
        d_stat.filter(F.col("bn") <= max_bucket)
        .alias("d")
        .join(allb.alias("u"), ["band_id", "band_sig"])
        .filter(F.col("d.doc_id") != F.col("u.doc_id"))
        .select(
            F.least("d.doc_id", "u.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "u.doc_id").alias("doc_b"),
        )
    )
    mega = d_stat.filter(F.col("bn") > max_bucket)
    star = mega.filter(F.col("doc_id") != F.col("bmin")).select(
        F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # if the union-bucket min is a delta doc, base members of the
    # bucket are connected among themselves (base run) but not to the
    # star hub — one stitch edge per such bucket closes it
    stitch = (
        mega.select("band_id", "band_sig", "bmin")
        .distinct()
        .join(base_stats, ["band_id", "band_sig"])
        .filter(F.col("bmin") < F.col("base_min"))
        .select(
            F.col("bmin").alias("doc_a"), F.col("base_min").alias("doc_b")
        )
    )
    return small.unionByName(star).unionByName(stitch).distinct()


def incremental_minhash_pairs_bucketed(
    spark,
    state_table: str,
    delta_signatures: DataFrame,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
    removed: DataFrame | None = None,
) -> DataFrame:
    """:func:`incremental_minhash_pairs` against a band state persisted
    as a BUCKETED table (r16 — the claim the streaming dedup docstring
    made executable: "a real deployment buckets the band table by band
    key so each batch touches only the buckets its delta bands hash
    to").  ``state_table`` is the band table written with
    ``sinks.bucketing.write_bucketed(..., ["band_id", "band_sig"])``;
    because the scan exposes that at-rest partitioning, the state is
    NEVER exchanged: the delta-touched restriction is a broadcast
    semi-join (partitioning-preserving), the per-bucket stats
    aggregate runs over the native bucketing with ZERO Exchange, and
    the delta-vs-state pair join plans as a sort-merge where only the
    delta (tiny) shuffles to meet the pre-sorted bucket files.  Edge
    set IDENTICAL to :func:`incremental_minhash_pairs`; the plan
    claims -- stats aggregate exchange-free, the probe's final plan
    one Exchange fewer than over a plain parquet copy, the state
    scanned exactly once in it -- are pytest-pinned
    (``test_incremental_pairs_bucketed``).

    Decomposition (the union form the unbucketed path uses would bury
    the state's partitioning under a Union node): delta x (state plus
    delta) pairs = delta x state (the bucketed join) plus delta x
    delta (tiny self-join); union-bucket stats = delta stats (tiny)
    merged onto state stats by a small-small join.  Mega-bucket star +
    stitch edges replay the same policy on the merged stats.  The two
    delta-bounded frames (``db``, ``s_stats``) are eagerly
    localCheckpointed -- the :func:`connected_components`
    bounded-frame convention -- so the downstream references replay
    O(delta) rows instead of re-running the state aggregate per
    branch.

    ``removed`` (r17): a marker frame of tombstoned doc_ids — the
    maintenance loop's delete side.  Applied as a broadcast anti-join
    on the delta-touched state slice (partitioning-preserving, so
    every exchange-free claim above survives; pytest-pinned by
    ``test_incremental_pairs_bucketed_with_removed``).
    """
    state = spark.table(state_table)
    db = band_signatures(delta_signatures, rows_per_band).localCheckpoint()
    key = ["band_id", "band_sig"]
    # restrict the state to DELTA-TOUCHED buckets up front — the
    # broadcast semi-join is the "each batch touches only the buckets
    # its delta bands hash to" contract, and it PRESERVES the scan's
    # bucketed partitioning (a broadcast join keeps its streamed
    # child's distribution)
    dkeys = db.select(*key).distinct()
    tstate = state.join(F.broadcast(dkeys), key, "semi")
    if removed is not None:
        # tombstone-aware probe (r17, r16 verdict #3): the maintenance
        # loop's band state is append-only with a marker set for
        # deletes — the effective state is bands anti-join markers.
        # A broadcast anti-join PRESERVES the scan's bucketed
        # partitioning (like the semi-join above), so the stats
        # aggregate and the pair join keep their exchange-free shape.
        tstate = retract_band_table(tstate, removed)
    if max_bucket is None:
        ds = db.alias("d").join(tstate.alias("u"), key).filter(
            F.col("d.doc_id") != F.col("u.doc_id")
        )
        dd = db.alias("d").join(db.alias("u"), key).filter(
            F.col("d.doc_id") != F.col("u.doc_id")
        )
        return (
            ds.unionByName(dd)
            .select(
                F.least("d.doc_id", "u.doc_id").alias("doc_a"),
                F.greatest("d.doc_id", "u.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    # per-bucket state stats aggregate OVER THE NATIVE BUCKETING (no
    # exchange — pytest-pinned) and come back delta-bounded; the
    # localCheckpoint cuts this subtree out of the four downstream
    # references, so the final plan scans the state exactly ONCE (the
    # pair join) instead of re-running the aggregate per branch
    s_stats = (
        tstate.groupBy(key)
        .agg(F.count("*").alias("sbn"), F.min("doc_id").alias("base_min"))
        .localCheckpoint()
    )
    d_stats = db.groupBy(key).agg(
        F.count("*").alias("dbn"), F.min("doc_id").alias("dmin")
    )
    tot = d_stats.join(s_stats, key, "left").select(
        *key,
        (F.col("dbn") + F.coalesce("sbn", F.lit(0))).alias("bn"),
        F.least(
            "dmin", F.coalesce("base_min", F.col("dmin"))
        ).alias("bmin"),
        "base_min",
    )
    d_stat = db.join(tot, key)  # small x small
    small_ds = (
        d_stat.filter(F.col("bn") <= max_bucket)
        .alias("d")
        .join(tstate.alias("u"), key)
        .filter(F.col("d.doc_id") != F.col("u.doc_id"))
        .select(
            F.least("d.doc_id", "u.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "u.doc_id").alias("doc_b"),
        )
    )
    small_dd = (
        d_stat.filter(F.col("bn") <= max_bucket)
        .alias("d")
        .join(db.alias("u"), key)
        .filter(F.col("d.doc_id") != F.col("u.doc_id"))
        .select(
            F.least("d.doc_id", "u.doc_id").alias("doc_a"),
            F.greatest("d.doc_id", "u.doc_id").alias("doc_b"),
        )
    )
    mega = d_stat.filter(F.col("bn") > max_bucket)
    star = mega.filter(F.col("doc_id") != F.col("bmin")).select(
        F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    stitch = (
        mega.select(*key, "bmin", "base_min")
        .distinct()
        .filter(
            F.col("base_min").isNotNull()
            & (F.col("bmin") < F.col("base_min"))
        )
        .select(
            F.col("bmin").alias("doc_a"), F.col("base_min").alias("doc_b")
        )
    )
    return (
        small_ds.unionByName(small_dd)
        .unionByName(star)
        .unionByName(stitch)
        .distinct()
    )


def incremental_components(
    base_labels: DataFrame,
    new_edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    **cc_kwargs,
) -> DataFrame:
    """Merge a delta batch's edges into EXISTING component labels
    without re-closing the full graph (r15, r14 verdict #4 — the
    dedup sibling of ``upsert_ivfadc_index``, completing the
    incremental-view-maintenance story ``incremental_rollup_merge``
    started for rollup states).

    ``base_labels`` is the persisted ``(doc_id, component_id)``
    closure of the corpus (labels are component MINIMA by the
    :func:`connected_components` contract); ``new_edges`` the delta
    pair set (:func:`incremental_minhash_pairs`).  Plan:

    1. PROJECT each new edge endpoint onto its existing label (left
       join; an endpoint absent from ``base_labels`` — a delta doc, or
       a base doc that had no duplicate — stays itself);
    2. CLOSE the projected SUPER-GRAPH, whose nodes are component
       labels and new docs — its size is bounded by the DELTA edge
       count, never the corpus graph (:func:`connected_components`
       reused verbatim: driver union-find under the threshold,
       pointer-jumped propagation above);
    3. RELABEL: the super-closure is a bounded ``old_label ->
       new_label`` map, broadcast onto ``base_labels`` (one scan of
       the label table, no shuffle of it), plus the new nodes' own
       rows.

    EXACTNESS: because every existing label is its component's min
    member and the super-closure takes min over {labels ∪ new doc
    ids}, the merged label of every doc equals the min member of its
    component in the UNION graph — i.e. merged == full recompute,
    bit-for-bit (the registered query's oracle IS the full recompute;
    the hash match is the proof).  At 100 TB the daily delta touches
    O(delta edges) super-nodes, so step 2 closes a graph millions of
    times smaller than the corpus closure it replaces; step 3's scan
    of the label table is the unavoidable cost of rewriting labels
    (and is a broadcast join, not a shuffle).
    """
    proj = (
        new_edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .join(
            base_labels.select(
                F.col("doc_id").alias("_a"), F.col("component_id").alias("_la")
            ),
            "_a",
            "left",
        )
        .join(
            base_labels.select(
                F.col("doc_id").alias("_b"), F.col("component_id").alias("_lb")
            ),
            "_b",
            "left",
        )
        .select(
            F.coalesce("_la", F.col("_a")).alias("doc_a"),
            F.coalesce("_lb", F.col("_b")).alias("doc_b"),
        )
    )
    super_labels = connected_components(proj, **cc_kwargs)
    relabel = super_labels.select(
        F.col("doc_id").alias("_old"), F.col("component_id").alias("_new")
    )
    rebased = (
        base_labels.join(
            F.broadcast(relabel),
            base_labels["component_id"] == F.col("_old"),
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("_new", "component_id").alias("component_id"),
        )
    )
    fresh = super_labels.join(
        base_labels.select("doc_id"), "doc_id", "left_anti"
    )
    return rebased.unionByName(fresh)


def guard_not_retracted(
    df: DataFrame,
    markers: DataFrame,
    id_col: str = "doc_id",
    op_name: str = "dedup maintenance",
) -> DataFrame:
    """Fold the band-state RE-ADD guard into a frame about to be
    written (r17, r16 verdict watch #1 — the band-marker twin of the
    index store's ``_guard_tombstoned_upsert``): a doc_id present in
    the tombstone marker set throws loudly at write time.  Without
    it, re-adding a previously removed doc was a silent no-op — the
    effective state anti-joins by doc_id, so the re-add's fresh band
    rows vanished with the stale ones.  Broadcast left-join +
    ``assert_true`` folded into the id column (the scd2_merge_delta
    convention — the optimizer cannot prune it); zero extra jobs."""
    dead = markers.select(F.col(id_col).alias("_dead_id")).distinct()
    guard = F.coalesce(
        F.assert_true(
            F.col("_dead_id").isNull(),
            F.concat(
                F.lit(f"{op_name}: doc_id "),
                F.col(id_col).cast("string"),
                F.lit(
                    " is tombstoned in the band state — purge the "
                    "markers (retract_band_table + compact) before "
                    "re-adding it"
                ),
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        df.join(F.broadcast(dead), df[id_col] == F.col("_dead_id"), "left")
        .withColumn(id_col, F.col(id_col) + guard)
        .drop("_dead_id")
    )


def retract_band_table(
    band_table: DataFrame, removed: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The band-table half of a RETRACTION (r16, r15 verdict #2 — the
    DELETE side of the dedup IVM story): surviving band table =
    ``band_table`` anti-join the removed doc_ids.  The delete set is
    delta-bounded (a takedown/TTL batch), so the anti-join broadcasts
    it and the band table is SCANNED, never shuffled — a metadata-cheap
    rewrite at 100 TB (a lakehouse table would express the same op as
    a MERGE DELETE; callers persist the result as the next band-state
    snapshot)."""
    rm = removed.select(F.col(id_col).alias("doc_id")).distinct()
    return band_table.join(F.broadcast(rm), "doc_id", "left_anti")


def retract_components(
    base_labels: DataFrame,
    band_table: DataFrame,
    removed: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = 1000,
    broadcast_survivors: bool = True,
    **cc_kwargs,
) -> DataFrame:
    """RETRACT documents from an existing near-dup closure without
    re-closing the corpus (r16, r15 verdict #2: the IVM family covered
    inserts everywhere — rollup states, SCD2 history, component labels,
    index upserts — but nothing could REMOVE a document; a takedown or
    TTL event on a 100 TB corpus meant a full dedup-graph recompute).

    ``base_labels`` is the persisted ``(doc_id, component_id)`` closure
    (labels are component MINIMA by the :func:`connected_components`
    contract); ``band_table`` the persisted :func:`band_signatures`
    state; ``removed`` a delta of doc_ids to delete.  Plan:

    1. TOUCHED components = the distinct labels of removed docs (one
       broadcast semi-join against the label table — a removed doc
       absent from the labels was a singleton and retracts for free);
    2. SURVIVORS = the touched components' members minus the removed
       docs (the label table is scanned once with broadcast joins,
       never shuffled);
    3. RE-CLOSE the survivors among themselves:
       :func:`banded_candidate_pairs` over the band table restricted
       to the survivor set, then :func:`connected_components` — a
       closure bounded by the TOUCHED components' member count, never
       the corpus graph;
    4. UNION with the untouched components' labels, verbatim.

    EXACTNESS (merged == full recompute on corpus-minus-removed,
    bit-for-bit — the registered query's oracle IS that recompute; the
    hash match is the proof): any doc sharing a band bucket with a
    touched-component member is, by the LSH edge rule, in the SAME
    component — so the touched components are CLOSED under
    bucket-sharing, restricting the band table to their survivors
    preserves every surviving bucket's membership exactly (removal
    only shrinks buckets, so the mega-bucket star policy sees the same
    bucket sizes the full re-run would), and the re-closure reproduces
    the full re-run's edges on exactly the docs whose edges could have
    changed.  Edges only DISAPPEAR under retraction, so components
    split or shrink but never merge — removing a bridge doc splits its
    component in two (pytest-pinned), and a survivor that lost its
    last duplicate partner drops out of the labels entirely (the
    docs-with-duplicates output convention).

    Cost at 100 TB: the removed set and the touched-component-ID
    frames are delta-bounded broadcasts; the band table and label
    table are each scanned once, shuffle-free; the only closure runs
    over the touched survivors.  The SURVIVOR broadcast is bounded by
    the touched components' MEMBER count — for a pathological giant
    component (a boilerplate cluster holding millions of docs) pass
    ``broadcast_survivors=False``: the survivor semi-join against the
    band table then plans as a shuffled join the planner sizes itself
    (identical output, pytest-pinned), and the closure's own
    ``local_threshold=0`` escape hatch forces its distributed path.
    """
    rm = removed.select(F.col(id_col).alias("doc_id")).distinct()
    touched = (
        base_labels.join(F.broadcast(rm), "doc_id")
        .select("component_id")
        .distinct()
    )
    members = base_labels.join(F.broadcast(touched), "component_id")
    survivors = members.join(F.broadcast(rm), "doc_id", "left_anti").select(
        "doc_id"
    )
    if broadcast_survivors:
        survivors = F.broadcast(survivors)
    surv_bands = band_table.join(survivors, "doc_id")
    # materialize=True: surv_bands is delta-bounded (touched
    # components' members only) and the pair enumeration references
    # it from four subtrees — pin it so the band state is scanned
    # once, not 4x (optimization r17, guide §2.4)
    re_labels = connected_components(
        banded_candidate_pairs(surv_bands, max_bucket, materialize=True),
        **cc_kwargs,
    )
    untouched = base_labels.join(
        F.broadcast(touched), "component_id", "left_anti"
    )
    return untouched.unionByName(re_labels)


def segment_tokens(
    docs: DataFrame,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic disjoint token segmentation: (doc_id, seg_idx, seg).

    The stateless front half of :func:`dedupe_segments` (tokenize ->
    ``sequence`` -> ``explode`` -> ``slice``/``array_join``; zero
    shuffles, fused into the scan) — factored out so the SAME
    segmentation runs under Structured Streaming (stream-capable: no
    window, no state) feeding the stateful streaming dedup.  Empty /
    whitespace-only docs yield no segments.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), "\\s+").alias("ws"),
    ).filter((F.size("ws") > 0) & (F.element_at("ws", 1) != ""))
    return (
        toks.select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(F.lit(1), F.size("ws"), F.lit(seg_tokens))
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / seg_tokens).cast("int").alias("seg_idx"),
            F.array_join(
                F.slice(F.col("ws"), F.col("start"), seg_tokens), " "
            ).alias("seg"),
        )
    )


def dedupe_segments(
    docs: DataFrame,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide SEGMENT-level exact dedup (the line/paragraph-dedup
    family: C4's three-sentence rule, RefinedWeb/Gopher line dedup) with
    deterministic fixed-size segmentation.

    Real corpora dedupe on natural lines/paragraphs; this corpus is flat
    word streams, so the segment is a fixed window of ``seg_tokens``
    whitespace tokens (disjoint — stride == size).  Every segment keeps
    only its FIRST occurrence corpus-wide (min ``(doc_id, seg_idx)``),
    including within-document repeats, and each document is reassembled
    from its surviving segments in original order — the operation that
    strips boilerplate shared across documents without dropping whole
    docs the way document-level dedup would.

    Output: ``(doc_id, cleaned, n_segments, n_kept)`` — one row per
    input document, ``cleaned`` the space-joined surviving segments
    (empty string when nothing survives or the doc was empty).

    Scale shape: tokenize → disjoint ``sequence``/``explode``/``slice``
    segmentation (the :func:`~.text_analysis.chunk_documents` idiom,
    zero-shuffle) → first-occurrence window over the segment's 120-bit
    content key (shuffle carries 16-byte keys + the segment text it
    must emit anyway) → per-doc ``array_agg`` reassembly (one doc-key
    shuffle).  Two compact-key exchanges total, no self-joins, output
    never exceeds input — linear end to end.
    """
    from pyspark.sql.window import Window

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    segs = segment_tokens(docs, seg_tokens, text_col=text_col, id_col=id_col)
    keyed = segs.select(
        "doc_id",
        "seg_idx",
        "seg",
        md5_long(F.col("seg")).alias("_h1"),
        md5_long_lo(F.col("seg")).alias("_h2"),
    )
    w = Window.partitionBy("_h1", "_h2").orderBy("doc_id", "seg_idx")
    # a keep FLAG instead of a filter: the per-doc reassembly then
    # computes n_segments (all rows) and n_kept/cleaned (flagged rows)
    # from ONE pass over the segmentation — filtering first would force
    # a second tokenize/explode subtree just to count dropped segments
    flagged = keyed.withColumn(
        "_keep", F.row_number().over(w) == 1
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.filter(
                        F.collect_list(F.struct("seg_idx", "seg", "_keep")),
                        lambda s: s["_keep"],
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("_keep").cast("int")).alias("n_kept"),
    )
    return (
        base.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
            F.coalesce("n_segments", F.lit(0)).cast("int").alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        )
    )


def pagerank(
    vertices: DataFrame,
    pairs: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 100_000,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    max_vertices: int = 10**12,
) -> DataFrame:
    """Integer-exact PageRank over an undirected pair graph (r10).

    Curation use: **boilerplate-hub detection**.  On the near-dup pair
    graph (LSH candidates), a document that is near-duplicate of MANY
    others — a site template, a licence page, a scraped navigation
    shell — becomes a high-centrality hub; ranking by PageRank instead
    of raw degree also weights hubs-linked-to-hubs (template families).
    Downstream policies: drop or down-sample the top of the ranking, or
    pick the highest-PR member as a cluster's canonical representative
    instead of ``min(doc_id)``.

    Exactness contract (the :func:`~..operators.similarity.kmeans_exact`
    posture, applied to a graph algorithm): ranks live on an integer
    micro-grid so every intermediate is an order-free integer sum an
    oracle can replay iteration by iteration —

    - ``pr0(v) = scale`` for every vertex;
    - per iteration:
      ``contrib(v) = sum over neighbours u of (pr(u) DIV deg(u))``
      (integer division truncates; all values nonnegative, so it equals
      floor) and
      ``pr'(v) = ((100 - damping_pct) * scale) DIV 100
      + (damping_pct * contrib(v)) DIV 100``;
    - isolated vertices keep ``(100-damping_pct)*scale DIV 100``
      (the standard dangling-mass-dropped simplification — documented,
      and irrelevant for the hub-ranking use).

    Overflow bound: ``damping_pct * contrib`` must stay inside int64;
    total rank mass is ``<= n_vertices * scale``, so the default scale
    of 1e5 is safe to ~1e12 vertices.  Loudly asserted against the
    ``max_vertices`` parameter (default 1e12): a scale/max_vertices
    combination whose worst case ``damping_pct * max_vertices * scale``
    leaves int64 raises at plan-build time instead of silently
    wrapping; callers with bigger graphs pass their real bound and get
    told the safe scale.

    Scale shape: ``deg`` is one count aggregate; each iteration is one
    hash join of the rank table with the (src, dst, deg) edge list on
    the vertex id plus one ``groupBy(dst).sum`` — both shuffles are
    NATURAL (ENSURE_REQUIREMENTS), so AQE can split a skewed hub key;
    the hot-dst case (a mega-hub's inbound sum) collapses map-side in
    the partial sum.  Nothing ever collects to the driver.

    **Lineage contract** (the :func:`connected_components` contract,
    and an EAGER JOB at plan-build time when ``iters > 0``): the
    degree-carrying edge list, the vertex-id frame, and each round's
    rank table are lineage-cut (``localCheckpoint``; pass
    ``checkpoint_dir`` for reliable ``checkpoint()`` on a real cluster
    — survives executor loss on a multi-hour run).  Without the cut,
    iteration N re-inlines the pair-generation pipeline N times — the
    uncut registered query measured 56 parquet scans for 3 iterations
    (the r7 banded-rank 40-scan incident, reproduced); with it, each
    round reads materialized blocks and the final plan is one join
    deep.  ``iters=0`` stays fully lazy (uniform init, no job).

    Reference scope note: the reference has no graph analytics at all —
    this extends its dedup surface (SURVEY §2 extension tier) the same
    way connected_components does.
    """
    if iters < 0 or not (0 <= damping_pct <= 100):
        raise ValueError("pagerank: iters >= 0, 0 <= damping_pct <= 100")
    if scale < 1 or max_vertices < 1:
        raise ValueError("pagerank: scale >= 1 and max_vertices >= 1")
    # Worst case inside the update expression: damping_pct * contrib,
    # with contrib <= total rank mass <= max_vertices * scale (the
    # docstring's bound).  Check it BEFORE building the plan.
    if max(damping_pct, 1) * max_vertices * scale >= 2**63:
        safe = (2**63 - 1) // (max(damping_pct, 1) * max_vertices)
        raise ValueError(
            f"pagerank: damping_pct*max_vertices*scale "
            f"({damping_pct}*{max_vertices}*{scale}) leaves int64 — "
            f"the per-vertex update would silently overflow; use "
            f"scale <= {safe} for this graph bound, or lower "
            "max_vertices to your real vertex count"
        )
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir is not None
            else df.localCheckpoint()
        )

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(deg, "src")
    base = vertices.select(F.col(id_col).alias("doc_id"))
    if iters > 0:
        e = _cut(e)
        base = _cut(base)
    teleport = ((100 - damping_pct) * scale) // 100
    pr = base.select("doc_id", F.lit(int(scale)).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            e.join(pr, e.src == pr.doc_id)
            .select(F.col("dst"), F.expr("pr DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = _cut(
            base.join(contrib, base.doc_id == contrib.dst, "left").select(
                base.doc_id,
                (
                    F.lit(int(teleport)).cast("long")
                    + F.expr(
                        f"({int(damping_pct)} * coalesce(contrib, 0L)) DIV 100"
                    )
                ).alias("pr"),
            )
        )
    return pr


def dedup_quality_report(
    docs: DataFrame,
    strong_jaccard: float = 0.5,
    weak_jaccard: float = 0.1,
    text_col: str = "text",
) -> DataFrame:
    """Candidate-quality evaluation of the LSH banding — the report a
    pipeline consults before trusting (or re-tuning) its dedup policy.

    Two sides of the S-curve, measured exactly:

    - **Precision**: every LSH candidate pair is re-verified with the
      exact shingle-set Jaccard (computed directly on the two hashed
      shingle arrays — cross-language candidates included, unlike the
      blocked truth side), bucketed at the ``weak`` (J ≥ 0.1 — "worth
      verifying at all") and ``strong`` (J ≥ 0.5 — the banding's
      design target) thresholds.
    - **Recall**: the exact language-blocked strong-pair set
      (:func:`ngram_jaccard_pairs` at ``strong_jaccard``) is the
      truth; the report counts how many truth pairs the banding
      surfaced.  (1/b)^(1/r) for 4x4 banding is ~0.707, so strong
      pairs are near-certain candidates — a recall drop flags a
      banding/tokenization regression, not sampling noise.

    Output: ONE row — ``(n_candidates, n_weak, n_strong,
    precision_weak, precision_strong, n_truth_strong, n_hit_strong,
    recall_strong)``; ratios 6dp, NULL when the denominator is 0.

    Scale shape: candidates are O(true dups) by the banding guards;
    the verification joins ship the two shingle arrays once per
    candidate (the ngram_jaccard_pairs re-verify posture); the truth
    side is the inverted-index similarity join; the final aggregates
    are single-row.  Nothing here is quadratic in the corpus.

    Lineage contract (the connected_components/pagerank posture —
    and the first catch of the r10 lineage-re-expansion audit, which
    flagged this operator's initial form at 14 real scans): ``cand``
    and ``truth`` are each consumed twice (verification + recall
    join; truth count + hit count), and an uncut reuse re-inlines the
    whole minhash / postings-join pipeline per consumer.  Both frames
    are O(true dups), so they are ``localCheckpoint``-ed once —
    an EAGER job each (documented eager-job contract) — and the final
    plan reads the checkpointed blocks plus exactly two narrow
    shingle-projection scans.
    """
    from ..functions.hashing import md5_long

    sigs = minhash_signatures(docs)
    cand = minhash_candidate_pairs(sigs).localCheckpoint()
    sh = spread_partitions(docs, "doc_id").select(
        "doc_id",
        F.expr(
            f"transform({word_shingles_sql(f'`{text_col}`')}, "
            f"s -> {_md5_long_sql('s')})"
        ).alias("sh"),
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, F.round(inter / union, 6)).otherwise(F.lit(0.0))
    ver = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(jac.alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("j") >= weak_jaccard).cast("long")).alias("n_weak"),
            F.sum((F.col("j") >= strong_jaccard).cast("long")).alias(
                "n_strong"
            ),
        )
    )
    truth = (
        ngram_jaccard_pairs(docs, min_jaccard=strong_jaccard)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    t_agg = truth.agg(F.count(F.lit(1)).alias("n_truth_strong"))
    h_agg = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit_strong")
    )
    out = ver.crossJoin(t_agg).crossJoin(h_agg)
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, F.round(F.col(num) / F.col(den), 6)
    )
    return out.select(
        "n_candidates",
        "n_weak",
        "n_strong",
        ratio("n_weak", "n_candidates").alias("precision_weak"),
        ratio("n_strong", "n_candidates").alias("precision_strong"),
        "n_truth_strong",
        "n_hit_strong",
        ratio("n_hit_strong", "n_truth_strong").alias("recall_strong"),
    )


def edit_distance_verify(
    docs: DataFrame,
    max_chars: int = 1000,
    threshold_pct: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-level edit-distance verification of LSH candidate
    pairs (r11) — the third verification metric in the dedup ladder,
    next to exact shingle Jaccard (:func:`dedup_quality_report`) and
    embedding cosine: Levenshtein similarity is what eval-set
    decontamination pipelines gate on when token-set metrics are too
    loose (a reordered copy has high Jaccard AND high edit distance;
    a true near-verbatim copy has both high).

    Output ``(doc_a, doc_b, edit_dist, sim_pct, is_dup)``:
    ``sim_pct = 100 - (100*dist) DIV max(len_a, len_b, 1)`` on the
    verified prefix, ``is_dup = sim_pct >= threshold_pct``.

    Exactness contract: the distance runs over the ``max_chars``-char
    prefix ASCII FOLD of each text (every non-ASCII char replaced by
    ``?``) — a DOCUMENTED projection, because Spark's ``levenshtein``
    counts characters while DuckDB's counts BYTES, so raw multi-byte
    text cannot hash-match cross-engine; after the fold char == byte
    and both engines agree exactly.  A char still counts as one
    symbol, so the fold only merges distinctions BETWEEN non-ASCII
    chars — for a near-dup gate that bias is toward (slightly) higher
    similarity, never lower.

    Scale shape: candidates come from :func:`minhash_candidate_pairs`
    (O(true dups), mega-bucket star guard); the verify is two narrow
    equi join-backs (AQE-splittable) shipping each folded prefix once
    per candidate side; Levenshtein cost is bounded at
    ``max_chars**2`` per PAIR, independent of corpus size — the
    standard prefix-capped verify.
    """
    if not 0 <= threshold_pct <= 100 or max_chars < 1:
        raise ValueError(
            "edit_distance_verify: 0 <= threshold_pct <= 100, "
            "max_chars >= 1"
        )
    pairs = minhash_candidate_pairs(
        minhash_signatures(docs, id_col=id_col, text_col=text_col)
    )

    def fold(c):
        return F.regexp_replace(
            F.substring(F.coalesce(c, F.lit("")), 1, max_chars),
            "[^\\x00-\\x7F]",
            "?",
        )

    t = docs.select(
        F.col(id_col).alias("_id"), fold(F.col(text_col)).alias("_t")
    )
    j = (
        pairs.join(
            t.select(
                F.col("_id").alias("doc_a"), F.col("_t").alias("_ta")
            ),
            "doc_a",
        )
        .join(
            t.select(
                F.col("_id").alias("doc_b"), F.col("_t").alias("_tb")
            ),
            "doc_b",
        )
    )
    # Pin the parallelism of the Levenshtein pass with an EXPLICIT-width
    # exchange right before it.  Without this, AQE coalesces the
    # upstream shuffle by BYTES — the pair frame is tiny on the wire —
    # and the whole quadratic-compute projection lands in ONE task
    # (measured: 17.8k pairs = 32.4 s single-task vs 3.0 s spread at
    # 16x sf0.1).  The partition keys are a seeded HASH of the pair,
    # not the raw (doc_a, doc_b) columns (r13): when AQE happens to
    # plan both join-backs as broadcasts, the join output already
    # carries hashpartitioning(doc_a, doc_b) and Catalyst ELIDES a
    # same-key repartition — the surviving upstream ENSURE_REQUIREMENTS
    # exchange then coalesces and the quadratic stage collapses to ~1
    # task (reproduced at 16x sf0.1: 38.8 s vs 19.1 s at 64x, where the
    # shuffled join-backs kept the repartition alive; the r12 SCALING
    # anchor blamed box contamination — wrongly).  An expression key is
    # never distribution-compatible with the join output, so the
    # REPARTITION_BY_NUM exchange survives — deterministic AND exempt
    # from AQE coalescing — at every scale.  The shipped rows are
    # O(true dups) x 2 folded prefixes, cheap relative to the
    # O(max_chars^2)-per-row work they balance.
    j = j.repartition(
        docs.sparkSession.sparkContext.defaultParallelism,
        F.xxhash64(F.lit(3), F.col("doc_a"), F.col("doc_b")),
    )
    scored = j.select(
        "doc_a",
        "doc_b",
        F.levenshtein("_ta", "_tb").alias("edit_dist"),
        F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1)).alias("_den"),
    )
    sim = F.lit(100) - F.expr("(100 * edit_dist) DIV _den")
    return scored.select(
        "doc_a",
        "doc_b",
        "edit_dist",
        sim.cast("int").alias("sim_pct"),
        (sim >= threshold_pct).alias("is_dup"),
    )
