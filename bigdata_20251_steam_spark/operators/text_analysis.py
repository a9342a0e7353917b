"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

All JVM built-ins (regex, array lambdas, md5-derived hashes) — the per-doc
cost is linear in text length with zero Python in the path, so throughput
scales with cores regardless of corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HASH_PRIME, md5_long
from ..functions.text import STOPWORDS
from .dedup import spread_partitions

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens, n_chars_measured) token accounting."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), "\\s+")).alias("ws_tokens"),
        F.regexp_count(t, F.lit(TOKEN_REGEX)).alias("bpe_tokens"),
        F.length(t).alias("n_chars_measured"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit heuristic language identifier.

    Scores each language by |tokens ∩ stopwords(lang)|; argmax with
    alphabetical tie-break (deterministic).  A real system would use
    character n-gram profiles; the operator shape (per-doc array ops +
    scores + argmax) is identical.
    """
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias(
            f"score_{lang}"
        )
        for lang, ws in sorted(STOPWORDS.items())
    ]
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *scores)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # reverse order => earlier (alphabetical) languages win ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        best.alias("best_score"),
    )


def _quality_parts(t: "Column"):
    """Shared quality-score sub-expressions: (n_tokens, punct_ratio,
    stop_ratio, quality).  A plain projection over the text column, so
    consumers embed it INLINE in their own select — never via a
    self-join back onto the corpus (a join on doc_id would add a scan
    and an exchange for what is a narrow map)."""
    toks = F.split(F.lower(F.trim(t)), "\\s+")
    n_toks = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda w: F.array_contains(en_stop, w)))
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_chars = F.length(t)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_toks, F.lit(1))
    len_factor = F.least(n_toks / F.lit(20.0), F.lit(1.0))
    quality = F.least(
        F.greatest(
            (F.lit(0.5) * stop_ratio + F.lit(0.5) * (1 - punct_ratio)) * len_factor,
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    return n_toks, punct_ratio, stop_ratio, quality


def quality_column(text_col: "Column") -> "Column":
    """The rounded quality score alone, as an inline column expression."""
    return F.round(_quality_parts(text_col)[3], 6)


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality metrics: length, punctuation ratio, stopword ratio.

    quality = clamp(0, 1, 0.5*stopword_ratio + 0.5*(1 - punct_ratio))
    scaled by a length factor — the standard cheap pre-filter shape for
    training-data pipelines (exact weights are policy, not engine).
    """
    n_toks, punct_ratio, stop_ratio, quality = _quality_parts(F.col(text_col))
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document.

    The standard degenerate-text filters for pretraining corpora
    (Rae et al. 2021 "Scaling Language Models", §A1.1 repetition rules):

    - ``dup_token_ratio``   = 1 - distinct_tokens / n_tokens
    - ``top_token_share``   = occurrences of the most frequent token / n
    - ``max_run_len``       = longest run of consecutive identical tokens

    All three are per-doc array computations — ``array_distinct`` for the
    distinct count, and a single ``aggregate`` pass with a (prev, run,
    best) struct accumulator over the sorted / raw token array for the
    multiplicity and run metrics (longest run in the SORTED array ==
    the most frequent token's multiplicity).  Zero shuffles, zero
    Python: the scan is the only stage, so the operator runs at
    parquet-read speed at any corpus size.
    """

    def _max_run(arr):
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc, w):
            run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                w.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(arr, init, step, lambda acc: acc["best"])

    toks = spread_partitions(docs, "doc_id").select(
        "doc_id",
        F.array_remove(
            F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), ""
        ).alias("ws"),
    ).filter(F.size("ws") > 0)
    n = F.size("ws")
    nd = F.size(F.array_distinct("ws"))
    return toks.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(1 - nd / n, 6).alias("dup_token_ratio"),
        # longest run in the SORTED array == max multiplicity of any token
        F.round(_max_run(F.array_sort("ws")) / n, 6).alias("top_token_share"),
        _max_run(F.col("ws")).alias("max_run_len"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Position-weighted rolling hash fingerprint per document.

    FP = ( Σ_i  i * (H(token_i) mod P) ) mod P  over 1-based positions —
    order-sensitive (unlike a bag-of-words hash) with bounded intermediate
    magnitude: the modulo is applied inside the aggregate merge step, so
    the accumulator stays < P < 2^31 and each (acc + term) stays < 2^52 —
    no int64 wrap at ANY document length (a raw running sum would silently
    overflow past ~65k tokens and diverge from oracles that sum in
    arbitrary precision).

    One ``aggregate`` pass over the per-doc token array (the (w, i)
    two-arg ``transform`` lambda supplies positions) — zero shuffles, vs
    the posexplode+groupBy formulation that shuffled every token.
    Positions index the *raw* split (empty tokens keep their slot but
    contribute 0), matching the oracle's ``generate_subscripts``.
    """
    toks = spread_partitions(docs, "doc_id").select(
        "doc_id", F.split(F.trim(F.col(text_col)), "\\s+").alias("ws")
    ).filter(F.size(F.array_remove("ws", "")) > 0)
    terms = F.transform(
        "ws",
        lambda w, i: F.when(
            w != "", (i + 1).cast("long") * (md5_long(w) % HASH_PRIME)
        ).otherwise(F.lit(0).cast("long")),
    )
    fp = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, x: (acc + x) % HASH_PRIME
    )
    return toks.select("doc_id", fp.alias("fingerprint"))


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC canonicalization + lowercase + whitespace collapse.

    The canonicalization step web-scale pipelines run BEFORE any
    hash-based operator (CCNet normalizes before LM scoring): composed
    vs decomposed accents ('é' as U+00E9 vs U+0065 U+0301) are visually
    identical but hash differently, silently defeating exact dedup,
    minhash, winnowing and decontamination alike.

    NFC has no JVM builtin, so that one step runs as an Arrow-batched
    scalar ``pandas_udf`` (the vectorized slow-path tier — whole Arrow
    batches cross the boundary, never row-at-a-time Python); lowercase,
    trim and whitespace collapse stay JVM-side around it.  The plan is a
    pure narrow map stage: zero shuffles, streams through a 100 TB
    corpus scan-bound.  (On mostly-ASCII corpora a JVM ``rlike`` ASCII
    pre-mask could bypass Python for pure-ASCII rows — NFC is the
    identity on ASCII — but conditional branches around a UDF may still
    evaluate it eagerly per-row, so that lever is a documented option,
    not the default.)

    Output: ``(doc_id, text_norm, changed)`` — ``changed`` is a
    null-safe "normalization altered the text" flag (null text stays
    null, flag false).

    Oracle twin: DuckDB ``regexp_replace(trim(lower(nfc_normalize(t))),
    '\\s+', ' ', 'g')`` — same operation order on both engines.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if isinstance(t, str)
            else None
        )

    norm = F.regexp_replace(
        F.trim(F.lower(_nfc(F.col(text_col)))), "\\s+", " "
    )
    return spread_partitions(docs, "doc_id").select(
        "doc_id",
        norm.alias("text_norm"),
        (~norm.eqNullSafe(F.col(text_col))).alias("changed"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS local fingerprinting algorithm, SIGMOD 2003).

    Hash every k-token shingle, slide a window of ``window`` consecutive
    shingle hashes, and keep each window's minimum.  The published
    guarantee: any shared token run of length >= ``window + k - 1``
    between two documents yields at least one SHARED fingerprint (a
    window of shingles fits entirely inside the run, and its identical
    minimum is selected in both docs), while expected density is only
    ~2/(window+1) of the shingles — the locality property bag-of-words
    minhash lacks (minhash samples globally, so a short plagiarised
    passage inside a long document is usually invisible to it).

    Output: one row per distinct selected hash per doc
    ``(doc_id, fingerprint)``; pairs of docs sharing fingerprints are
    near-dup/containment candidates (compose with the existing blocked
    verifiers, e.g. group by fingerprint exactly like
    ``lsh_candidate_pairs`` groups by band signature).

    Scale shape: tokenize -> shingle-hash -> window-min selection are all
    per-document array lambdas fused into the scan — ZERO shuffles, no
    Python; amplification is bounded by the ~2/(window+1) density.  Docs
    with fewer than ``k`` tokens have no shingle and emit no rows; docs
    with 1 <= m < ``window`` shingles emit their global minimum (one
    truncated window), so every doc with a shingle gets >= 1 fingerprint.

    Hashes are the cross-engine 60-bit md5 (``functions/hashing.py``)
    reduced mod P, matching the DuckDB oracle bit-for-bit.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = (
        spread_partitions(docs, "doc_id")
        .select(
            "doc_id",
            F.array_remove(
                F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), ""
            ).alias("ws"),
        )
        .filter(F.size("ws") >= k)
    )
    # m = n - k + 1 shingles (>= 1 after the filter); sequence(1, m) is
    # safe — Spark sequence() would count DOWN for m < 1.
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - k + 1),
        lambda j: md5_long(F.array_join(F.slice("ws", j, k), " "))
        % HASH_PRIME,
    )
    shingled = toks.select("doc_id", grams.alias("gh"))
    n_win = F.greatest(F.size("gh") - window + 1, F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda j: F.array_min(F.slice("gh", j, window)),
    )
    return shingled.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows with optional overlap.

    The standard LLM-pretraining prep step the reference lacks entirely:
    each document becomes ceil(n_tokens / stride) chunks of up to
    ``chunk_size`` whitespace tokens, chunk ``c`` starting at token
    ``c * stride`` (stride < chunk_size ⇒ overlapping context windows;
    stride == chunk_size ⇒ disjoint).  Output: one row per chunk with
    ``(doc_id, chunk_id, n_tokens, chunk_text)``.

    Scale shape: tokenize → ``sequence`` of start offsets → ``explode`` →
    ``slice``/``array_join`` — all JVM built-ins fused into the scan, zero
    shuffles, no Python.  The explode amplification is bounded by
    n_tokens/stride per doc, so output size is corpus_tokens/stride rows
    regardless of document skew; a 100 TB corpus streams through as a
    narrow map-only stage.  Docs with empty/null text produce no rows.
    """
    if stride < 1 or chunk_size < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = (
        spread_partitions(docs, "doc_id")
        .select(
            "doc_id", F.split(F.trim(F.col(text_col)), "\\s+").alias("ws")
        )
        .filter((F.size("ws") > 0) & (F.element_at("ws", 1) != ""))
    )
    # 1-based start offsets: 1, 1+stride, ... <= n_tokens
    starts = toks.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(1), F.size("ws"), F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice(F.col("ws"), F.col("start"), chunk_size)
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    score = tf * (ln((N + 1) / (df + 1)) + 1)   (sklearn's smooth idf)

    Plan shape at 100 TB: term frequencies are one explode + groupBy
    (the shuffle carries (doc_id, term) pairs); document frequencies
    re-aggregate the tf table (already term-partitioned, so AQE plans a
    shuffle-free partial agg); N joins in as a broadcast single-row
    aggregate — no driver-side collect.  Ranking uses the ROUNDED score
    with the term as tie-break, so ordering is deterministic and
    engine-independent (raw float ln() can differ by 1 ulp across
    engines).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_remove(
                F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), ""
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


def sentence_split_udtf_cls():
    """Python UDTF class for sentence splitting (the 4th UDF shape).

    Completes the UDF tier next to pandas_udf / mapInPandas /
    applyInPandasWithState (SURVEY.md §2.H): a table function emitting
    0..n rows per input row.  The splitting rule is deliberately the
    dumbest portable one — split on '.', trim, drop empties — so the
    DuckDB oracle (string_split + unnest WITH ORDINALITY) reproduces it
    exactly; real sentence segmentation would swap the body, not the
    plumbing.

    Defined inside a factory so the class closes over NOTHING module-
    level (worker pickling self-containment; see repo worker-closure
    rule).  At scale UDTFs pay the Python-worker tax like any Python
    UDF — use for genuinely row-expanding logic built-ins can't express.
    """

    class SentenceSplit:
        def eval(self, text):
            if text is None:
                return
            idx = 0
            for part in text.split("."):
                # ASCII whitespace only: bare str.strip() also removes
                # Unicode spaces (NBSP etc.), which SQL trim(s, <chars>)
                # oracles cannot reproduce — pin the exact char set
                s = part.strip(" \t\n\r\f\v")
                if s:
                    idx += 1
                    yield idx, s

    return SentenceSplit


def sentences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sentence_idx, sentence) via a lateral-join Python UDTF.

    The UDTF emits only the generated columns; the lateral join carries
    ``doc_id`` from the outer side (emitting it from the UDTF too would
    make the reference ambiguous).
    """
    from pyspark.sql.functions import udtf

    fn = udtf(
        sentence_split_udtf_cls(),
        returnType="sentence_idx int, sentence string",
    )
    return docs.lateralJoin(fn(F.col(text_col).outer())).select(
        "doc_id", "sentence_idx", "sentence"
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

#: Redaction patterns, applied IN THIS ORDER.  Kept to the regex subset
#: where Java (Spark) and RE2 (DuckDB oracle) agree: no lookaround, no
#: backreferences, non-capturing groups only.  Counts are taken on the
#: text as it stands BEFORE that pattern's own redaction but AFTER the
#: previous ones — sequential semantics both engines reproduce exactly
#: (e.g. an IP-shaped fragment inside an email is gone before the IPv4
#: pass counts).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4}", "<PHONE>"),
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers, with per-doc accounting.

    The standard pre-training scrub (C4/RefinedWeb ship variants of
    exactly this): each PII class is replaced by a typed placeholder so
    downstream token statistics stay meaningful, and the per-doc match
    counts let a pipeline monitor PII density per source/crawl.

    Pure JVM ``regexp_count`` + ``regexp_replace`` chain — scan-speed,
    no shuffle, no Python.  Returns (id, n_<class>... , redacted_text).
    NULL text keeps a NULL ``redacted_text`` (the missing doc stays
    visibly missing) but counts report 0, so per-source PII-density
    rollups never see null-poisoned sums.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0)).alias(
                f"n_{name}"
            )
        )
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(F.col(id_col), *counts, cur.alias("redacted_text"))


def cross_split_contamination(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Train->test n-gram contamination: the decontamination check.

    For every TEST-split document (splits from ``hash_split``), the
    fraction of its distinct word n-grams that also occur anywhere in
    the TRAIN split — the standard eval-set decontamination signal
    (benchmark answers leaking into training data).

    Scale shape: grams travel as 60-bit hash longs; the train side
    reduces to a DISTINCT hash set before the join (at 100 TB this is
    the big side — broadcast is wrong, the equi-join shuffles hashes
    only); per-test-doc counts are two partial aggregations.  A hash
    collision (~2^-60 per pair) can only overcount contamination by one
    gram.  Test docs with fewer than ``shingle_n`` tokens have no grams
    and are absent from the output (nothing to contaminate).

    Returns (id, n_grams, n_contaminated, contamination_ratio).
    """
    from .dedup import word_shingles_sql
    from .sampling import hash_split

    split = hash_split(docs, id_col).select(F.col(id_col), "split")
    grams = (
        docs.join(split, id_col)
        .select(
            F.col(id_col),
            "split",
            F.explode(
                F.expr(word_shingles_sql(f"`{text_col}`", shingle_n))
            ).alias("g"),
        )
        .select(F.col(id_col), "split", md5_long(F.col("g")).alias("h"))
    )
    # pin the gram fingerprints once (guide §2.4/§8: decide on hashes,
    # not payloads): the train set, the contamination join's test side
    # and the per-doc totals are THREE references to this frame, and
    # Spark plans each independently — without the pin the corpus
    # text was shingled+hashed three times per call.  The pinned frame
    # is the narrow (id, split, 8-byte hash) proxy; values unchanged.
    # The frame is INPUT-SIZED (one row per gram occurrence), so the
    # pin routes through pin_frame (r18, ADVICE r17): localCheckpoint
    # below the size gate, reliable checkpoint / DISK_ONLY persist
    # above it — recoverable on executor loss at the 100 TB posture
    # (the local A/B is a wash either way; the 3x -> 1x
    # shingle+hash dedup is the structural term this pin buys).
    from .dedup import pin_frame

    grams = pin_frame(grams)
    train = grams.filter(F.col("split") == "train").select("h").distinct()
    test = grams.filter(F.col("split") == "test").select(id_col, "h")
    hits = (
        test.join(train, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = test.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    return totals.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce("n_contaminated", F.lit(0)) / F.col("n_grams"), 6
        ).alias("contamination_ratio"),
    )


def unigram_lm_scores(
    docs: DataFrame,
    vocab_size: int = 256,
    text_col: str = "text",
    oov_alpha: float = 0.5,
) -> DataFrame:
    """Corpus-trained unigram language-model scoring (the CCNet shape).

    The classic model-based quality filter one step up from heuristics:
    fit a unigram LM on the corpus itself (word frequencies over a
    top-``vocab_size`` vocabulary), then score every document by its
    mean per-token log10-probability — low scores flag
    gibberish/boilerplate whose token distribution diverges from the
    corpus (CCNet does this with a 5-gram KenLM; the unigram form is the
    engine-shaped equivalent with the same two-pass structure).
    Out-of-vocabulary tokens get the smoothed floor ``oov_alpha / N``.

    Output: ``(doc_id, n_tokens, avg_logp10, oov_ratio)``; empty/null
    text scores NULL with ``n_tokens`` 0.

    Cross-engine exactness: per-word log-probs are quantized to integer
    nano-log10s (``floor(log10(c/N)·1e9)``), so the per-doc sum is exact
    long arithmetic — order-independent, hence identical across engines
    and partitionings — and only the final mean divides once (rounded
    6dp).  Word-frequency tie-break is byte order (equals Java string
    order for the ASCII tokens this tokenizer emits).

    Scale shape: pass 1 is a word-count groupBy (shuffle bounded by the
    vocabulary, with map-side partials) from which only the top-V rows
    (tiny, like the IVF centroid pull) reach the driver; pass 2 scores
    docs with a zero-shuffle narrow projection — the vocabulary rides
    along as a map literal ordered most-frequent-first, so the map
    lookup's linear scan ends at depth ~1/Zipf-rank for typical tokens.
    For vocabularies too large to inline (>~10k words), score via
    explode → broadcast-join(word→lp) → re-aggregate by doc id instead:
    same result, one doc-id exchange.
    """
    import math

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if vocab_size > 10_000:
        raise ValueError(
            "unigram_lm_scores inlines the vocabulary as a map literal; "
            f"vocab_size={vocab_size} exceeds the 10k literal-map bound — "
            "use the explode -> broadcast-join(word->lp) -> re-aggregate "
            "form documented above for large vocabularies"
        )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    counts = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # pin the word-count table once: the total and the top-V collect are
    # two references to the same aggregate, and Spark plans each
    # independently — without the checkpoint the corpus was tokenized
    # TWICE per training call (guide §2.4; values unchanged, the
    # checkpoint only cuts lineage).  The pinned frame is vocabulary-
    # bounded (Heaps-law sub-linear), the same boundedness the two
    # collects already relied on.  The checkpointed blocks are released
    # by driver GC via the ContextCleaner once this frame goes out of
    # scope after the two collects (ADVICE r17 noted the lingering
    # blocks; they are vocabulary-bounded — kilobytes — and a
    # DataFrame-level unpersist cannot reach RDD-level localCheckpoint
    # storage, so GC is the documented release path, matching the
    # repo's other bounded pins).
    counts = counts.localCheckpoint()
    n_total = counts.agg(F.sum("c")).collect()[0][0]
    if not n_total:
        raise ValueError("unigram_lm_scores: corpus has no tokens")
    top = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(
        vocab_size
    ).collect()
    lp = {
        r["w"]: int(math.floor(math.log10(r["c"] / n_total) * 1e9))
        for r in top
    }
    oov_lp = int(math.floor(math.log10(oov_alpha / n_total) * 1e9))
    # most-frequent-first literal order so the linear map scan is short
    vocab_map = F.map_from_arrays(
        F.array(*[F.lit(r["w"]) for r in top]),
        F.array(*[F.lit(lp[r["w"]]).cast("long") for r in top]),
    )
    word_lp = lambda w: F.coalesce(  # noqa: E731
        F.element_at(vocab_map, w), F.lit(oov_lp).cast("long")
    )
    n_toks = F.when(toks.isNull(), F.lit(0)).otherwise(F.size(toks))
    lp_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + word_lp(w)
    )
    n_oov = F.size(F.filter(toks, lambda w: F.element_at(vocab_map, w).isNull()))
    nonempty = n_toks > 0
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.when(
            nonempty,
            F.round(lp_sum.cast("double") / n_toks / F.lit(1e9), 6),
        ).alias("avg_logp10"),
        F.when(nonempty, F.round(n_oov / n_toks, 6)).alias("oov_ratio"),
    )


def quality_quantile_filter(
    docs: DataFrame,
    keep_fraction: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
    hot_threshold: int | None = None,
    n_bands: int = 64,
    accuracy: int = 10_000,
    cache_tracker: list | None = None,
) -> DataFrame:
    """Keep the top ``keep_fraction`` of each group by heuristic quality.

    Pretraining curation frequently thresholds on a quality QUANTILE per
    source rather than an absolute score — an absolute cut throws away
    entire low-register sources and keeps all of high-register ones,
    while a per-source quantile preserves the mix's source composition
    (the shape used for classifier-score filtering in e.g. the LLaMA
    CCNet pipeline).  Ranking is fully deterministic: quality (rounded,
    6dp) descending with ``doc_id`` as tie-break, kept iff
    ``percent_rank <= keep_fraction``.

    Output: ``(doc_id, <group_col>, quality, pct_rank, kept)`` for every
    document — emitting the flag rather than filtering lets one pass
    serve both the survivors and an audit of what a threshold would
    drop.

    Scale shape: the :func:`quality_scores` metrics are a narrow
    projection fused into the scan; the quantile is one group-key
    exchange + per-group sort.  **Hot-group banded ranking** (r7, r6
    verdict #2; pass ``hot_threshold``): emitting the per-doc flag
    inherently ranks EVERY row, so the cutoff prefilter of the
    filter-only sibling :func:`quality_threshold_filter` cannot shrink
    the work — but the rank itself decomposes.  When any group's count
    exceeds ``hot_threshold`` (the samplers' eager-detection protocol:
    one cheap count, paid only until real skew appears), ranks are
    computed by :func:`~.ranking.banded_percent_rank` — approx-quantile
    band edges split each group into ``n_bands`` contiguous value
    ranges, and ``band offset + within-band row_number`` reproduces
    ``percent_rank``'s value bit-for-bit while bounding per-task rows
    at ``~|group| / n_bands`` (exact regardless of sketch accuracy; a
    skewed sketch only unbalances bands).  Default
    ``hot_threshold=None`` keeps the single-window plan — optimal at
    tested corpus sizes.
    """
    from pyspark.sql.window import Window

    from .ranking import banded_percent_rank, percent_rank_expr

    # quality computed INLINE (narrow projection) — joining the corpus
    # back onto its own quality projection would double the scan and add
    # a doc_id exchange before the group window (r6 plan-review fix)
    base = docs.select(
        "doc_id", group_col, quality_column(F.col(text_col)).alias("quality")
    )
    if hot_threshold is not None:
        # persist the narrow score frame BEFORE the eager hot-detection
        # count so that one job doubles as cache population — the banded
        # ranker's three passes then read the cache and the corpus text
        # is scanned exactly once on the hot path.  The cold branch
        # unpersists immediately: a healthy corpus pays one count and
        # leaves nothing resident.
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
        # one eager job returns hot presence AND group cardinality —
        # the latter feeds the ranker's self-sizing edge-broadcast
        # decision for free (r8 verdict #4)
        hot_stats = (
            base.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .agg(
                F.sum(
                    (F.col("_cnt") > hot_threshold).cast("int")
                ).alias("_nhot"),
                F.count(F.lit(1)).alias("_ngroups"),
            )
            .collect()[0]
        )
        any_hot = hot_stats["_nhot"] or 0
        if any_hot:
            # the returned frame reads this cache; long-lived callers
            # pass cache_tracker and unpersist after consuming (LRU
            # frees only the memory tier — see banded_percent_rank)
            if cache_tracker is not None:
                cache_tracker.append(base)
            ranked = banded_percent_rank(
                base, group_col, "quality", "doc_id",
                n_bands=n_bands, accuracy=accuracy, persist_input=False,
                n_groups=hot_stats["_ngroups"],
            )
            return ranked.select(
                "doc_id",
                group_col,
                "quality",
                F.round(
                    percent_rank_expr(F.col("_rank"), F.col("_n")), 6
                ).alias("pct_rank"),
            ).withColumn("kept", F.col("pct_rank") <= keep_fraction)
        base.unpersist()
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return base.select(
        "doc_id",
        group_col,
        "quality",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    ).withColumn("kept", F.col("pct_rank") <= keep_fraction)


def quality_threshold_filter(
    docs: DataFrame,
    keep_fraction: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
    hot_threshold: int | None = None,
    margin: float = 0.05,
    accuracy: int = 10_000,
    n_bands: int = 64,
    cache_tracker: list | None = None,
) -> DataFrame:
    """Survivors-only per-group quality-quantile filter (two-phase form).

    The filter-only sibling of :func:`quality_quantile_filter`: returns
    ONLY the documents whose rounded ``percent_rank`` under
    ``(quality DESC, doc_id ASC)`` within their group is
    ``<= keep_fraction`` — the exact set the flag variant marks
    ``kept`` — as ``(doc_id, <group_col>, quality)``.  This is the shape
    a curation pipeline actually materializes; the flag variant exists
    for audit.

    **Hot-group two-phase prefilter** (r7, r6 verdict #2; pass
    ``hot_threshold``): because survivors are the TOP of each group's
    (quality DESC, doc_id) order, a value cutoff ``quality >= c`` keeps
    a PREFIX of that order — so for a group counted above
    ``hot_threshold``, the per-group cutoff is estimated with
    ``percentile_approx(quality, 1 - keep_fraction - margin)`` (the
    rank margin absorbs the sketch's rank error; ``accuracy`` bounds it
    at ``~1/accuracy``) and only rows at or above it are ranked.
    Exactness is unconditional, not probabilistic: the candidate set
    contains ALL rows with quality >= cutoff, hence is a prefix of the
    total order, so if it holds at least the ``ceil(f·(n-1)) + 1`` rows
    the quantile can keep, its top IS the group's top; any hot group
    whose candidates come up short (a sketch miss beyond the margin —
    or a deliberately negative test margin) falls back to full-group
    ranking.  Cold groups rank in full through the same final pass.

    The survivor ranking itself goes through
    :func:`~.ranking.banded_percent_rank`, so even at
    ``keep_fraction=0.5`` (where the cutoff alone only halves the hot
    group) per-task rows are bounded at ``~f·|group| / n_bands``.
    Eager hot-detection (see :func:`~.sampling.sample_n_per_group`):
    one cheap count gates the whole two-phase plan, so a healthy corpus
    pays a single pre-aggregate job and takes the single-window path.

    Rounding parity with the flag variant: the kept test compares the
    6dp-rounded percent_rank, and the two-phase rank reproduces
    ``percent_rank``'s double arithmetic bit-for-bit
    (:func:`~.ranking.percent_rank_expr`), so both variants and the SQL
    oracle agree on every boundary row.

    **Eager-job contract** (r8 advice — this is part of the public
    API, not an implementation detail): with ``hot_threshold`` set,
    CALLING this function runs Spark jobs before it returns — the
    hot-detection pre-aggregate always, and on the hot branch the full
    candidate-pool materialization (``pool.count()``, corpus-scale) —
    because the two-phase plan's shape depends on their results and
    the pool cache must be pinned before ``base`` is released.  Build
    the plan only when you intend to execute it; the returned frame
    additionally holds a pinned ``MEMORY_AND_DISK`` cache on the hot
    branch (pass ``cache_tracker`` and unpersist after consuming —
    LRU frees only the memory tier).  ``hot_threshold=None`` (the
    default) is fully lazy.
    """
    from pyspark.sql.window import Window

    from .ranking import banded_percent_rank, percent_rank_expr

    base = docs.select(
        "doc_id", group_col, quality_column(F.col(text_col)).alias("quality")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    single_phase = (
        base.withColumn(
            "_pct", F.round(F.percent_rank().over(w), 6)
        )
        .filter(F.col("_pct") <= keep_fraction)
        .select("doc_id", group_col, "quality")
    )
    if hot_threshold is None:
        return single_phase
    # one aggregate pass: per-group count + approx cutoff.  The cutoff
    # quantile position backs off by the rank margin so the sketch's
    # rank error (<= ~1/accuracy) cannot push the cutoff above the true
    # keep boundary; the shortfall guard below makes even that case
    # exact rather than approximate.
    #
    # base is persisted (MEMORY_AND_DISK, narrow: id + group + quality,
    # never text) across the hot path's passes — stats aggregate,
    # candidate prefilter, shortfall fallback — so the corpus text is
    # read and the quality projection computed exactly ONCE; without it
    # Spark re-expands the lineage per pass (the r7 plan compiled to 40
    # corpus scans).  The eager any_hot count below doubles as the
    # cache-population job; the cold branch unpersists before
    # returning, making the healthy-corpus cost one count and nothing
    # resident.
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    p_cut = max(0.0, min(1.0, 1.0 - keep_fraction - margin))
    stats = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.percentile_approx("quality", F.lit(p_cut), F.lit(accuracy)).alias(
            "_cut"
        ),
    )
    # one eager job: hot presence + group cardinality (the latter feeds
    # the ranker's self-sizing edge broadcast — r8 verdict #4)
    hot_stats = stats.agg(
        F.sum((F.col("_cnt") > hot_threshold).cast("int")).alias("_nhot"),
        F.count(F.lit(1)).alias("_ngroups"),
    ).collect()[0]
    if not (hot_stats["_nhot"] or 0):
        base.unpersist()
        return single_phase
    # candidate pool: hot groups prefiltered at the cutoff (>= keeps all
    # boundary ties — the candidate set must contain EVERY row at or
    # above the cutoff for the prefix argument to hold), cold groups in
    # full.  percentile_approx returns an element of the group, so at
    # least one row always survives the prefilter (no zero-candidate
    # hole by construction — unlike the samplers' hash threshold).
    is_hot = F.col("_cnt") > hot_threshold
    cand = base.join(F.broadcast(stats), group_col).filter(
        (~is_hot) | F.col("_cut").isNull() | (F.col("quality") >= F.col("_cut"))
    )
    # The keep test compares the 6dp-ROUNDED percent_rank, so it can
    # accept ranks up to (f + 5e-7)*(n-1) + 1 — half an ulp of the 6th
    # decimal above the nominal boundary.  The candidate pool must
    # cover every rank the rounded test can keep, so the shortfall
    # bound is sized to the rounded test, not the exact one:
    # needed = ceil((f + 5e-7)*(n-1)) + 1.  (r7 advice: at ~2M-row
    # groups the unrounded bound could pass the guard while the pool
    # missed boundary rows the flag variant keeps.)  Derived from stats
    # LEFT JOIN the candidate counts so a short group is never
    # silently lost.
    needed = F.ceil(
        F.lit(float(keep_fraction) + 5e-7) * (F.col("_cnt") - 1)
    ).cast("long") + 1
    cand_counts = cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("_m"))
    short = (
        stats.filter(is_hot)
        .join(cand_counts, group_col, "left")
        .filter(F.coalesce(F.col("_m"), F.lit(0)) < needed)
        .select(group_col)
    )
    full_rows = base.join(F.broadcast(short), group_col, "left_semi").join(
        F.broadcast(stats), group_col
    )
    pool = cand.join(F.broadcast(short), group_col, "left_anti").unionByName(
        full_rows
    )
    # exact rank among the pool == exact rank in the full group for
    # every emitted row (prefix argument above); percent_rank uses the
    # FULL group size from stats, not the pool size.
    #
    # The pool (narrow, <= corpus rows) is materialized eagerly and
    # becomes the single resident cache: the banded ranker scans it
    # three times, and pinning it here lets base — whose cache the pool
    # job reads — be released immediately, so hot-path memory is one
    # narrow frame, not two.  (An evicted pool partition recomputes
    # through the unpersisted base lineage; correctness is unaffected.)
    pool = pool.select("doc_id", group_col, "quality", "_cnt").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pool.count()
    base.unpersist()
    # the returned frame reads the pool cache; long-lived callers pass
    # cache_tracker and unpersist after consuming (LRU frees only the
    # memory tier — see banded_percent_rank)
    if cache_tracker is not None:
        cache_tracker.append(pool)
    ranked = banded_percent_rank(
        pool,
        group_col,
        "quality",
        "doc_id",
        n_bands=n_bands,
        accuracy=accuracy,
        persist_input=False,
        n_groups=hot_stats["_ngroups"],
    )
    return (
        ranked.withColumn(
            "_pct",
            F.round(percent_rank_expr(F.col("_rank"), F.col("_cnt")), 6),
        )
        .filter(F.col("_pct") <= keep_fraction)
        .select("doc_id", group_col, "quality")
    )


def strip_repeated_spans(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Remove within-document repeated k-token spans (intra-doc dedup).

    The Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") intra-document case that
    :func:`~..operators.dedup.dedupe_segments` (cross-doc) and
    :func:`repetition_metrics` (flag-only) leave uncleaned: boilerplate
    runs REPEATED INSIDE one document (nav bars, disclaimer blocks,
    degenerate completions).  Semantics, chosen to be exactly
    SQL-replayable:

    - tokens are the whitespace split of the trimmed text;
    - the k-gram starting at position ``i`` is a REPEAT iff the same
      k-token sequence starts at any earlier position ``j < i``
      (overlaps allowed, so ``a a a a`` collapses);
    - every token position covered by a repeat k-gram is dropped;
    - ``text_clean`` rebuilds the survivors in order, single-space
      joined (whitespace is normalized by reconstruction).

    Output: ``(doc_id, n_tokens, n_dropped, text_clean)``; NULL/empty
    text yields ``(0, 0, '')``.

    Scale shape — zero shuffles, zero Python, near-linear per doc (the
    winnowing machinery's positioned-shingle style): repeat detection
    is NOT the quadratic "for each gram, scan earlier grams" — the
    (gram, pos) pairs are ``array_sort``-ed so equal grams become
    adjacent (first occurrence first), an index-lambda compares each
    element to its sorted predecessor, and a second sort restores
    position order, yielding a position-aligned repeat-flag array.
    Coverage then probes the flags of the <=k grams overlapping each
    position via O(1) ``element_at``.

    Implementation constraint that SHAPES the code: each intermediate
    array is materialized as its own projection column, never re-spelled
    inside a downstream lambda — a higher-order function re-evaluates
    its captured subexpressions PER ELEMENT, so inlining the sort tree
    into the per-position probe would silently turn the operator
    O(k n^3 log n) (measured: a hang at 200-token docs).  Column
    references inside lambdas are O(1) attribute reads, keeping the
    whole pass O(n k + n log n) per document; Catalyst's
    CollapseProject keeps the multiply-referenced array columns
    un-inlined because they are non-cheap.
    """
    if k < 1:
        raise ValueError("strip_repeated_spans: k must be >= 1")
    t = F.col(text_col)
    toks = F.array_remove(F.split(F.trim(t), r"\s+"), "")

    step = spread_partitions(docs, "doc_id").select(
        "doc_id", toks.alias("_toks")
    )
    tk = F.col("_toks")
    n = F.size(tk)
    # (gram, position) pairs sorted by (gram, pos); ' ' join is
    # unambiguous because whitespace-split tokens cannot contain spaces
    step = step.withColumn(
        "_pairs",
        F.when(
            n >= k,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.struct(
                        F.array_join(F.slice(tk, i + 1, k), " ").alias("h"),
                        i.alias("p"),
                    ),
                )
            ),
        ),
    )
    pairs = F.col("_pairs")
    # adjacent compare in (h, p) order -> repeat flag; re-sort by p so
    # index i of the final array IS the flag of the gram starting at i
    step = step.withColumn(
        "_rep",
        F.transform(
            F.array_sort(
                F.transform(
                    pairs,
                    lambda x, j: F.struct(
                        x["p"].alias("p"),
                        F.when(
                            (j > 0)
                            & (x["h"] == F.element_at(pairs, j)["h"]),
                            F.lit(1),
                        )
                        .otherwise(F.lit(0))
                        .alias("r"),
                    ),
                )
            ),
            lambda x: x["r"],
        ),
    )
    rep = F.col("_rep")

    # position p is dropped iff any of the <=k grams overlapping it is a
    # repeat.  k is a Python constant, so the probe unrolls to a static
    # OR chain over F.get (0-based, NULL-safe out of range) — no
    # per-position sequence() allocation, no nested lambda: the HOF
    # interpreter evaluates these per element, so allocation in the
    # probe is the dominant constant at corpus scale (measured 2x).
    def dropped(p):
        import functools
        import operator

        return functools.reduce(
            operator.or_,
            [
                F.coalesce(F.get(rep, p - d), F.lit(0)) == 1
                for d in range(k)
            ],
        )

    # clean-document short-circuit: most real documents contain no
    # intra-doc repeats at all; one O(n) scan of the flag array skips
    # the O(n k) probe + rebuild for them entirely
    step = step.withColumn(
        "_hasrep", F.exists(rep, lambda r: r == 1)
    )
    step = step.withColumn(
        "_kept",
        F.when(
            (n >= k) & F.col("_hasrep"),
            F.filter(F.sequence(F.lit(0), n - 1), lambda p: ~dropped(p)),
        ),
    )
    kept = F.col("_kept")
    n_tokens = F.coalesce(n, F.lit(0))
    passthrough = F.array_join(tk, " ")
    out_clean = F.when(n_tokens == 0, F.lit("")).otherwise(
        F.when(
            (n >= k) & F.col("_hasrep"),
            F.array_join(
                F.transform(kept, lambda p: F.element_at(tk, p + 1)), " "
            ),
        ).otherwise(passthrough)
    )
    n_dropped = F.when(
        (n >= k) & F.col("_hasrep"), n - F.size(kept)
    ).otherwise(F.lit(0))
    return step.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.coalesce(n_dropped, F.lit(0)).alias("n_dropped"),
        out_clean.alias("text_clean"),
    )


def strip_cross_doc_spans(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Remove CORPUS-WIDE repeated k-token spans (cross-doc span dedup).

    The full Lee et al. 2022 ExactSubstr case at k-gram granularity:
    boilerplate (license headers, nav bars, templated intros) repeated
    ACROSS documents, which document-level dedup
    (:func:`~..operators.dedup` family, whole/segment keys) and
    :func:`strip_repeated_spans` (within one doc) both leave in place.
    Lee et al. build a corpus suffix array offline; the distributed
    re-expression here compares every k-gram occurrence globally
    through one hash-keyed exchange.  Semantics, exactly
    SQL-replayable and a strict superset of the intra-doc operator:

    - tokens are the whitespace split of the trimmed text;
    - the k-gram at ``(doc, pos)`` is a REPEAT iff the same k-token
      sequence occurs at any lexicographically earlier ``(doc', pos')``
      under ``(doc_id ASC, pos ASC)`` — the first occurrence in the
      canonical corpus order survives, every echo is flagged;
    - every token position covered by a repeat k-gram is dropped;
    - ``text_clean`` rebuilds the survivors in order, single-space
      joined.

    Output: ``(doc_id, n_tokens, n_dropped, text_clean)``; NULL/empty
    text yields ``(0, 0, '')``.

    Scale shape — hot-gram-proof exchanges, zero Python (r9 guard):

    1. per-gram FIRST occurrence is a ``min(struct(doc_id, p))``
       aggregate keyed by a 128-bit xxhash64 pair of the token slice
       (16-byte keys — the dedup-module posture: gram text itself
       never shuffles).  xxhash64 over the array hashes tokens
       in-place — no ``array_join`` string build, no md5 — which
       matters here because the occurrence pass is computed TWICE (see
       step 2) and gram hashing dominates its cost; the oracle replays
       by gram TEXT, so the hash never needs a DuckDB twin (unlike the
       md5-keyed dedup family).  The second hash seeds the literal
       BEFORE the gram (``xxhash64(lit(1), g)``): Spark chains column
       hashes left-to-right, so a trailing literal would inherit any
       h1 collision verbatim, while a leading one changes the initial
       state and makes the pair effectively independent (collision
       ~2^-128, vs birthday at ~2^32 grams for a single 64-bit key).
       An aggregate, NOT a window: map-side partial
       collapse bounds the exchange at distinct-grams-per-map-task, so
       a boilerplate gram occurring 10^8-10^9 times contributes ONE
       partial row per map task instead of landing every occurrence in
       a single window-sort task (the r8 hazard the round-8 verdict
       flagged; window functions get no AQE skew mitigation).  Grams
       with ``count == 1`` are dropped before the join — a
       boilerplate-free corpus joins against an empty side.
    2. occurrences join back to the (cnt>1)-filtered firsts on the
       gram key to flag echoes.  Both join shuffles are Catalyst
       ENSURE_REQUIREMENTS exchanges, so ``OptimizeSkewedJoin`` can
       split a hot gram's probe partition at runtime (the reason this
       does NOT pre-repartition occurrences for exchange reuse: a
       REPARTITION-origin shuffle is excluded from AQE skew
       mitigation).  The price is one extra corpus scan (the
       occurrence pass feeds the aggregate and the probe side as
       separate subtrees) — linear, and cheap next to an unsplittable
       10^9-row single-task sort.
    3. ONLY the repeat rows (empty on a boilerplate-free corpus) are
       regrouped per document into a sorted repeat-start array and
       joined back to the corpus on ``doc_id``.

    The rebuild then runs as zero-shuffle array lambdas: the sparse
    start list is merged against the dense gram-position sequence with
    one ``array_sort`` + adjacent-compare (the intra-doc alignment
    trick — NO per-position membership scan, which would be O(n·r) per
    doc and quadratic on boilerplate-heavy corpora), yielding a
    position-aligned repeat-flag array probed at O(1) per position via
    the same unrolled ``F.get`` chain as :func:`strip_repeated_spans`.
    Each intermediate array is materialized as its own projection
    column — higher-order functions re-evaluate captured subexpressions
    PER ELEMENT (the documented O(k n^3 log n) inlining trap).
    """
    from .dedup import spread_partitions

    if k < 1:
        raise ValueError("strip_cross_doc_spans: k must be >= 1")
    t = F.col(text_col)
    toks = F.array_remove(F.split(F.trim(t), r"\s+"), "")
    base = spread_partitions(docs, id_col).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    )
    tk = F.col("_toks")
    n = F.size(tk)

    # pass 1 (distributed): every gram occurrence, keyed by gram hash.
    # xxhash64 hashes the token slice in place (array hashing is
    # order- and boundary-exact — no join-separator ambiguity); the
    # second hash leads with a literal so the pair is independently
    # seeded (see docstring).
    occ = (
        base.filter(n >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.struct(
                        i.alias("p"),
                        F.slice(tk, i + 1, k).alias("g"),
                    ),
                )
            ).alias("_o"),
        )
        .select(
            "doc_id",
            F.col("_o.p").alias("p"),
            F.xxhash64(F.col("_o.g")).alias("_h1"),
            F.xxhash64(F.lit(1), F.col("_o.g")).alias("_h2"),
        )
    )
    # NOT pinned — re-tested at data-dominated scale (optimization
    # r18, r17 verdict #6): pinning this input-sized occurrence proxy
    # (pin_frame, recoverable) was measured at a 10x corpus in an
    # interleaved ABBA — cross_doc_span_dedup 3.00/4.82 s lazy vs
    # 4.44/4.83 s pinned, curation_v2 4.99/5.09 vs 4.94/5.74 — the
    # eager materialization write costs more than the second
    # tokenize+explode+hash pass it saves (that pass is whole-stage
    # codegen; the write is not), on top of the r9 rationale that the
    # duplicate pass keeps both downstream exchanges AQE-skew-eligible
    # with zero stored bytes.  The double pass stays the deliberate
    # trade.
    # hot-gram guard (r9): per-gram first occurrence via an aggregate —
    # min over a struct orders lexicographically by (doc_id, p), the
    # same canonical order as the r8 row_number window, but map-side
    # partials collapse a hot gram to one row per map task before the
    # exchange.  cnt>1 prunes unique grams so the join side only
    # carries actual boilerplate.
    firsts = (
        occ.groupBy("_h1", "_h2")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("p"))).alias("_first"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .filter(F.col("_cnt") > 1)
        .select("_h1", "_h2", "_first")
    )
    repeats = (
        occ.join(firsts, ["_h1", "_h2"])
        .filter(
            (F.col("doc_id") != F.col("_first.doc_id"))
            | (F.col("p") != F.col("_first.p"))
        )
        .select("doc_id", "p")
    )
    starts = repeats.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("p")).alias("_starts")
    )

    step = base.join(starts, "doc_id", "left")
    st = F.col("_starts")
    # sparse->dense alignment: merge (start, 1) markers into the dense
    # gram-position sequence, sort by (p, marker), then for each dense
    # (p, 0) entry the marker — if any — is its immediate successor.
    step = step.withColumn(
        "_m",
        F.when(
            (n >= k) & st.isNotNull(),
            F.array_sort(
                F.concat(
                    F.transform(
                        F.sequence(F.lit(0), n - k),
                        lambda i: F.struct(i.alias("p"), F.lit(0).alias("r")),
                    ),
                    F.transform(
                        st,
                        lambda s: F.struct(s.alias("p"), F.lit(1).alias("r")),
                    ),
                )
            ),
        ),
    )
    m = F.col("_m")
    step = step.withColumn(
        "_rep",
        F.when(
            m.isNotNull(),
            F.transform(
                F.filter(
                    F.transform(
                        m,
                        lambda x, j: F.struct(
                            x["r"].alias("r"),
                            F.coalesce(
                                F.try_element_at(m, j + 2)["p"] == x["p"],
                                F.lit(False),
                            )
                            .cast("int")
                            .alias("d"),
                        ),
                    ),
                    lambda x: x["r"] == 0,
                ),
                lambda x: x["d"],
            ),
        ),
    )
    rep = F.col("_rep")

    # position p is dropped iff any of the <=k grams overlapping it is a
    # repeat — the strip_repeated_spans unrolled O(1)-per-probe chain
    def dropped(p):
        import functools
        import operator

        return functools.reduce(
            operator.or_,
            [
                F.coalesce(F.get(rep, p - d), F.lit(0)) == 1
                for d in range(k)
            ],
        )

    has_rep = rep.isNotNull() & F.exists(rep, lambda r: r == 1)
    step = step.withColumn("_hasrep", F.coalesce(has_rep, F.lit(False)))
    step = step.withColumn(
        "_kept",
        F.when(
            (n >= k) & F.col("_hasrep"),
            F.filter(F.sequence(F.lit(0), n - 1), lambda p: ~dropped(p)),
        ),
    )
    kept = F.col("_kept")
    n_tokens = F.coalesce(n, F.lit(0))
    passthrough = F.array_join(tk, " ")
    out_clean = F.when(n_tokens == 0, F.lit("")).otherwise(
        F.when(
            (n >= k) & F.col("_hasrep"),
            F.array_join(
                F.transform(kept, lambda p: F.element_at(tk, p + 1)), " "
            ),
        ).otherwise(passthrough)
    )
    n_dropped = F.when(
        (n >= k) & F.col("_hasrep"), n - F.size(kept)
    ).otherwise(F.lit(0))
    return step.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.coalesce(n_dropped, F.lit(0)).alias("n_dropped"),
        out_clean.alias("text_clean"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """The published Gopher document-quality rules as an auditable filter.

    Rae et al. 2021 ("Scaling Language Models", §A1.1) document filters
    — the standard rule set real curation stacks start from, distinct
    from the engine's heuristic composite (:func:`quality_scores`) and
    the learned tier (``operators/classifier``):

    - word count within ``[min_words, max_words]``;
    - mean word length within ``[min_mean_len, max_mean_len]``;
    - symbol-to-word ratio below ``max_symbol_ratio`` (symbols =
      non-alphanumeric, non-whitespace characters);
    - fraction of words containing an alphabetic character at least
      ``min_alpha_frac``;
    - at least ``min_stopwords`` English stopword hits (the
      "real prose" check).

    Output keeps EVERY document with its per-rule metrics plus the
    final ``keep`` flag — one pass serves survivors and audit (the
    quality_quantile_filter convention).  Wordless/NULL documents emit
    NULL metrics and ``keep = false``.

    Zero shuffles: all metrics are array lambdas and regexp counts
    fused into the scan; integer counts divided once and rounded to
    6dp keep every ratio bit-exact cross-engine.
    """
    metrics, keep = gopher_columns(
        F.col(text_col),
        min_words=min_words,
        max_words=max_words,
        min_mean_len=min_mean_len,
        max_mean_len=max_mean_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_frac=min_alpha_frac,
        min_stopwords=min_stopwords,
    )
    return docs.select(
        "doc_id",
        *[col.alias(name) for name, col in metrics.items()],
        keep.alias("keep"),
    )


def gopher_columns(
    t: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> tuple[dict, Column]:
    """The Gopher rule metrics as inline column expressions.

    Returns ``(metrics, keep)`` where metrics is an ordered dict of the
    five per-rule columns — consumers that only need the gate (e.g. the
    curation capstone) embed ``keep`` directly in their own select so
    the filter fuses into their scan instead of semi-joining the
    operator's output back (the accidental-recompute shape)."""
    toks = F.array_remove(F.split(F.trim(t), r"\s+"), "")
    n = F.size(toks)
    has = n > 0
    len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.when(has, F.round(len_sum / n, 6))
    symbols = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]"))
    symbol_ratio = F.when(has, F.round(symbols / n, 6))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(has, F.round(alpha / n, 6))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(
        F.filter(toks, lambda w: F.array_contains(en_stop, F.lower(w)))
    )
    keep = (
        has
        & n.between(min_words, max_words)
        & mean_len.between(min_mean_len, max_mean_len)
        & (symbol_ratio < max_symbol_ratio)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_stopwords)
    )
    metrics = {
        "n_words": F.coalesce(n, F.lit(0)),
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "n_stopwords": F.when(has, n_stop),
    }
    return metrics, F.coalesce(keep, F.lit(False))


def train_bigram_lm(
    docs: DataFrame,
    vocab_size: int = 16,
    bigram_size: int = 24,
    text_col: str = "text",
    oov_alpha: float = 0.5,
    backoff: float = 0.4,
) -> dict:
    """Train the Stupid-Backoff bigram tables; return them as plain data.

    The training half of :func:`bigram_lm_scores`, split out (r9, r8
    advice) so a trained model can be PINNED as a literal artifact —
    the NB-weights/BPE-merges posture: language models are artifacts,
    trained once, shipped, outliving their training corpus.  Pinning
    also removes the only cross-engine fragility the scorer had: a
    replayed training pass depends on both engines' libm ``log10``
    agreeing to the last ulp inside ``floor(log10(x) * 1e9)``, whereas
    a pinned integer table is bit-exact by construction.

    Returns ``{"uni_lp", "back_lp", "pair_lp", "oov_first",
    "oov_back"}``: integer nano-log10 tables (``pair_lp`` keys are
    ``"ctx cur"`` — unambiguous, whitespace-split tokens contain no
    spaces).  Two bounded aggregates (vocabulary-sized and
    bigram-table-sized collects with loud caps); the kilobyte result
    is driver-side plain data, JSON-serializable.
    """
    import math

    if vocab_size < 1 or bigram_size < 1:
        raise ValueError("train_bigram_lm: table sizes must be >= 1")
    if vocab_size > 10_000 or bigram_size > 10_000:
        raise ValueError(
            "train_bigram_lm inlines both tables as map literals; "
            "sizes above 10k need the explode -> broadcast-join -> "
            "re-aggregate form (see unigram_lm_scores)"
        )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    counts = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # pin once — the total and the top-V collect would otherwise each
    # re-run the corpus tokenize+count; blocks are vocabulary-bounded
    # and released by driver GC after the collects (see
    # unigram_lm_scores for the full note, ADVICE r17)
    counts = counts.localCheckpoint()
    n_total = counts.agg(F.sum("c")).collect()[0][0]
    if not n_total:
        raise ValueError("train_bigram_lm: corpus has no tokens")
    top = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(
        vocab_size
    ).collect()
    uni_c = {r["w"]: int(r["c"]) for r in top}

    def q(x: float) -> int:
        return int(math.floor(math.log10(x) * 1e9))

    vocab_lit = F.array(*[F.lit(w) for w in uni_c])
    pair_src = docs.select(toks.alias("_t")).filter(F.size("_t") >= 2)
    tk0 = F.col("_t")
    pair_rows = (
        pair_src.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk0) - 1),
                    lambda i: F.struct(
                        F.get(tk0, i - 1).alias("ctx"),
                        F.get(tk0, i).alias("cur"),
                    ),
                )
            ).alias("_p")
        )
        .select("_p.ctx", "_p.cur")
        .filter(F.array_contains(vocab_lit, F.col("ctx")))
        .groupBy("ctx", "cur")
        .agg(F.count(F.lit(1)).alias("cp"))
        .orderBy(F.col("cp").desc(), F.col("ctx").asc(), F.col("cur").asc())
        .limit(bigram_size)
        .collect()
    )
    return {
        "uni_lp": {w: q(c / n_total) for w, c in uni_c.items()},
        "back_lp": {w: q(backoff * c / n_total) for w, c in uni_c.items()},
        "pair_lp": {
            f"{r['ctx']} {r['cur']}": q(int(r["cp"]) / uni_c[r["ctx"]])
            for r in pair_rows
        },
        "oov_first": q(oov_alpha / n_total),
        "oov_back": q(backoff * oov_alpha / n_total),
    }


def bigram_lm_scores(
    docs: DataFrame,
    vocab_size: int = 16,
    bigram_size: int = 24,
    text_col: str = "text",
    oov_alpha: float = 0.5,
    backoff: float = 0.4,
    model: dict | None = None,
) -> DataFrame:
    """Bigram LM scoring with Stupid Backoff (Brants et al. 2007).

    One modeling step up from :func:`unigram_lm_scores` toward CCNet's
    KenLM: score each token by its conditional probability given the
    previous token, backing off to ``backoff ×`` the unigram
    probability when the bigram is unseen — the "stupid backoff"
    smoothing that Brants et al. showed matches Kneser-Ney at corpus
    scale for a fraction of the cost, and the scheme a distributed
    engine can replay exactly.

    Model (all tables bounded, trained on the corpus itself):

    - top-``vocab_size`` unigrams with counts (one word-count
      aggregate, shuffle bounded by the vocabulary);
    - top-``bigram_size`` adjacent pairs whose CONTEXT word is in the
      vocabulary (one pair-count aggregate; the context restriction is
      what keeps the conditional's denominator available and the table
      bounded), ``P(cur|ctx) = c(ctx,cur) / c(ctx)``;
    - position 1 scores by unigram (OOV floor ``oov_alpha/N``);
      positions 2..n score by the bigram, else ``backoff × P(cur)``,
      else ``backoff × oov_alpha/N``.

    Output: ``(doc_id, n_tokens, avg_logp10, bigram_hit_ratio)`` —
    the hit ratio (pairs found in the bigram table / (n-1)) is the
    fluency signal a repetitive or shuffled document fails; NULL for
    docs with < 2 tokens, all-NULL scores for empty/NULL text.

    Cross-engine exactness (the unigram convention): every log-prob is
    quantized to integer nano-log10s at TRAIN time — per-doc sums are
    exact long arithmetic, order-independent; one division + 6dp round
    at the end.  Scoring is a zero-shuffle narrow projection: both
    tables ride as map literals (kilobytes), pair keys are
    ``ctx || ' ' || cur`` (unambiguous — whitespace-split tokens
    contain no spaces).

    ``model``: a pinned artifact from :func:`train_bigram_lm` (r9, r8
    advice).  When given, no training runs — the call is fully lazy
    and the integer tables are bit-exact on any engine; when ``None``,
    the model is trained on ``docs`` at call time (two eager bounded
    aggregates).  Registered queries pin the model so the oracle
    scores with the identical literals instead of retraining through
    DuckDB's libm.
    """
    if model is None:
        model = train_bigram_lm(
            docs,
            vocab_size=vocab_size,
            bigram_size=bigram_size,
            text_col=text_col,
            oov_alpha=oov_alpha,
            backoff=backoff,
        )
    uni_lp = model["uni_lp"]
    back_lp = model["back_lp"]
    pair_lp = model["pair_lp"]
    oov_first = model["oov_first"]
    oov_back = model["oov_back"]
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )

    def _lit_map(d: dict, keys):
        return F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]),
            F.array(*[F.lit(d[k]).cast("long") for k in keys]),
        )

    uni_map = _lit_map(uni_lp, list(uni_lp))
    back_map = _lit_map(back_lp, list(back_lp))
    pair_map = (
        _lit_map(pair_lp, list(pair_lp))
        if pair_lp
        else F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<long>")
        )
    )

    step = spread_partitions(docs, "doc_id").select(
        "doc_id", toks.alias("_toks")
    )
    tk = F.col("_toks")
    n = F.size(tk)
    first_lp = F.coalesce(
        F.element_at(uni_map, F.get(tk, 0)), F.lit(oov_first).cast("long")
    )
    pkey = lambda i: F.concat(F.get(tk, i - 1), F.lit(" "), F.get(tk, i))  # noqa: E731
    pos_lp = lambda i: F.coalesce(  # noqa: E731
        F.element_at(pair_map, pkey(i)),
        F.element_at(back_map, F.get(tk, i)),
        F.lit(oov_back).cast("long"),
    )
    rest = F.when(
        n >= 2,
        F.aggregate(
            F.sequence(F.lit(1), n - 1),
            F.lit(0).cast("long"),
            lambda acc, i: acc + pos_lp(i),
        ),
    ).otherwise(F.lit(0).cast("long"))
    hits = F.when(
        n >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.element_at(pair_map, pkey(i)).isNotNull(),
            )
        ),
    )
    n_toks = F.when(tk.isNull(), F.lit(0)).otherwise(n)
    nonempty = n_toks > 0
    total = first_lp + rest
    return step.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.when(
            nonempty, F.round(total.cast("double") / n_toks / F.lit(1e9), 6)
        ).alias("avg_logp10"),
        F.when(
            n_toks >= 2, F.round(hits / (n_toks - 1), 6)
        ).alias("bigram_hit_ratio"),
    )


def blocklist_filter(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Token-level blocklist screening — the bad-terms curation stage.

    Real pipelines drop or flag documents matching curated blocklists
    (toxicity word lists, spam markers, boilerplate sentinels).  This
    is the exact-token form: a document hits when any whitespace token
    equals a blocklisted term case-insensitively.  Output keeps every
    document with its audit columns — ``n_hits`` (total matching token
    occurrences), ``hit_terms`` (sorted distinct matched terms,
    comma-joined), and the ``keep = n_hits == 0`` gate — one pass for
    survivors and review queue both.

    The list rides as an array literal (blocklists are curated
    artifacts, like the NB weights); matching is zero-shuffle array
    lambdas fused into the scan.  Lists too large to inline (>~10k
    terms) should build a Bloom filter instead
    (:mod:`..operators.sketches`) and accept its false-positive review
    queue.
    """
    if not terms:
        raise ValueError("blocklist_filter: terms must be non-empty")
    if len(terms) > 10_000:
        raise ValueError(
            "blocklist_filter inlines the list as an array literal; "
            f"{len(terms)} terms exceeds the 10k bound — route large "
            "lists through a Bloom filter (operators/sketches.py)"
        )
    n_hits, hit_terms, keep = blocklist_columns(terms, F.col(text_col))
    return docs.select(
        "doc_id",
        n_hits.alias("n_hits"),
        hit_terms.alias("hit_terms"),
        keep.alias("keep"),
    )


def blocklist_columns(
    terms: list[str], t: Column
) -> tuple[Column, Column, Column]:
    """``(n_hits, hit_terms, keep)`` as inline column expressions.

    The single source of the blocklist matching rule — the batch
    operator and the streaming gate both build from this, so a
    semantics change (normalization, Bloom routing) cannot drift
    between them (the gopher_columns convention)."""
    toks = F.array_remove(F.split(F.lower(F.trim(t)), r"\s+"), "")
    bl = F.array(*[F.lit(w.lower()) for w in sorted(set(terms))])
    hits = F.filter(toks, lambda w: F.array_contains(bl, w))
    n_hits = F.coalesce(F.size(hits), F.lit(0))
    hit_terms = F.coalesce(
        F.array_join(F.array_sort(F.array_distinct(hits)), ","), F.lit("")
    )
    return n_hits, hit_terms, n_hits == 0
