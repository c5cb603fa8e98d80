"""Deduplication operators over the documents/embeddings tables — the
training-data-pipeline north star (SURVEY.md §7): exact hash dedup,
MinHash+LSH banding, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale posture (100 TB): every variant avoids the O(n²) all-pairs trap —
exact dedup is a hash groupBy; MinHash/SimHash generate candidates by
*bucket equi-join* (band value / simhash value), so the shuffle key is the
bucket and only same-bucket pairs materialize; cosine near-dup pre-blocks
on the IVF-style label cell.  Pairwise verification only runs inside
candidate groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_experiments_spark.functions.numeric import snap6
from arrow_experiments_spark.functions.text import (
    SHINGLES3_SQL,
    TOKENS_SQL,
    md5_str,
    minhash_sig_expr,
    minhash_sig_sql,
    shingles3,
    tokens,
)
from arrow_experiments_spark.functions.vectors import cosine_sql, dot, norm_sql
from arrow_experiments_spark.functions.vectors import norm as vnorm
from arrow_experiments_spark.registry import register
from arrow_experiments_spark.session import missing_jvm_methods, probe_once
from arrow_experiments_spark.tables import table, widen_if_narrow

_N_SIGS = 8  # MinHash signatures
_N_BANDS = 4  # bands of r=2 signatures each

_SH_SQL = SHINGLES3_SQL.format(t=TOKENS_SQL.format(col="text"))

# The exact scorers (inverted-index Jaccard, LSH-blocked cosine pair list)
# are oracle cross-checks meant for SAMPLES: their candidate-pair mass is
# unbounded in dup density, and SCALE.md measures them out-spilling disk
# on a clone-dense corpus where the bounded siblings complete.  Rather
# than let a full-corpus call crash mid-shuffle, each estimates its pair
# mass up front (one cheap count over the already-persisted bucket frame)
# and refuses past this limit with a pointer to the bounded sibling.
# Calibration: the sf0.1 corpus measures ~3.3e5 shingle-bucket pairs and
# ~3.7e5 LSH-bucket pairs; clone replication grows both ~quadratically
# (x10 ≈ 3.5e7), so 1e8 passes any sane sample and fires on the 100×
# clone corpus (~3e9) long before the shuffle materializes.
_EXACT_PAIR_LIMIT = 100_000_000


class PairMassExceeded(ValueError):
    """Raised by the exact (unbounded-output) scorers when the estimated
    candidate-pair mass says the call belongs on the bounded sibling."""


def _guard_pair_mass(
    spark: SparkSession, buckets: DataFrame, name: str, sibling: str
) -> None:
    """``buckets``: one row per candidate bucket with a count column
    ``n``.  Estimated pair mass = Σ n·(n−1)/2 — exactly the number of
    in-bucket pairs the exact scorer is about to shuffle.  A bucket
    frame carrying a ``pairs`` column instead declares its own per-
    bucket join size (asymmetric joins — e.g. delta×base probes sum
    n_delta·n_base, severalfold below the all-pairs formula when one
    side dominates) and is summed verbatim.

    NOTE: this runs an EAGER Spark action (one aggregate over the
    bucket-count frame) inside the builder — deliberately, because the
    whole point is to refuse BEFORE the unbounded pair shuffle is even
    planned into a job.  Builders that call it (dedup_ngram_jaccard,
    dedup_embedding_cosine) therefore execute the tokenize/shingle/bucket
    stage at build() time rather than at first action; plan-only callers
    (explain audits) pay that stage once.  The frames involved are
    persisted, so the action's work is reused by the returned plan."""
    pair_expr = (
        F.sum(F.col("pairs"))
        if "pairs" in buckets.columns
        else F.sum(F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2))
    )
    est = buckets.agg(pair_expr.alias("p")).first()["p"]
    est = int(est or 0)
    if est > _EXACT_PAIR_LIMIT:
        raise PairMassExceeded(
            f"{name}: estimated candidate-pair mass {est:,} exceeds the "
            f"sample-only limit {_EXACT_PAIR_LIMIT:,}. "
            f"This exact scorer exists as an oracle cross-check for "
            f"samples; run {sibling} on full corpora — its candidates "
            f"are LSH-bounded and its output per-key capped."
        )


@register(
    "dedup_exact",
    "dedup",
    doc="exact content dedup: md5 content hash → groupBy → canonical id "
    "(min doc_id) + copy count. One shuffle on the hash key.",
    oracle="""
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS canonical_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(md5_str(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Previous curate_corpus frame per (session, corpus path), with the
# stat fingerprint of the source it was built from.  A repeat build in
# the same session REUSES the persisted frame while the source is
# unchanged (r8 verdict #3: unpersist-then-repersist of an identical
# plan threw away the warm cache and made every build pay a cold
# materialization), and unpersists its predecessor before caching a new
# copy when the source moved (ADVICE r7: repeated builds accumulated
# cached corpus frames that only the bench's clearCache() ever
# released).  Unpersist is correctness-neutral — a still-referenced old
# frame just recomputes.
_CURATE_CACHE: dict[
    tuple[int, str], tuple[DataFrame, str | None, DataFrame | None]
] = {}


def _documents_fingerprint(sf_dir: str) -> str | None:
    """Stat-based freshness token for documents.parquet (size+mtime of
    every file — no Spark job); None when nothing is statable, so a
    cache hit is impossible and staleness detection fails open."""
    import hashlib
    import os

    root = os.path.join(sf_dir, "documents.parquet")
    entries: list[str] = []
    if os.path.isfile(root):
        st = os.stat(root)
        entries.append(f"documents.parquet:{st.st_size}:{st.st_mtime_ns}")
    else:
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    if not entries:
        return None
    return hashlib.sha256(";".join(sorted(entries)).encode()).hexdigest()


def curate_corpus(
    spark: SparkSession, sf_dir: str, defer_materialize: bool = False
) -> DataFrame:
    """ONE persisted scan of documents carrying everything the curation
    funnel consumes: per-doc quality scalars (token count, distinct
    ratio, stopword ratio), text length (the canonical tie-break), and
    the distinct 3-shingle set (MinHash banding + decontamination).
    Columns: ``(doc_id, source, text_len, n_tokens, dr, sr, sh)``.

    Threaded through the stage builders' ``corpus=`` parameter this makes
    ``pipeline_curate_end_to_end`` a single-scan job: without it each of
    the three stages re-reads and re-tokenizes the corpus (PLANS.md
    measured scan-count 5 at sf0.1; at 100 TB the scan+tokenize IS the
    dominant cost, so the composite paid ~3× what one funnel pass
    should).  All sources are kept — decontamination needs the eval
    shingles (src0) and clustering runs over the full corpus; the quality
    stage filters downstream.

    Cache discipline: the returned frame is persisted and EAGERLY
    materialized (the guard actions downstream would materialize it
    anyway), after which the intermediate token frame is unpersisted —
    one cached frame survives per (session, corpus).  A repeat call for
    an UNCHANGED corpus (stat fingerprint of the source files) returns
    the already-persisted frame with zero Spark work — the warehouse
    steady state, and what keeps repeat funnel builds warm; a changed
    source releases the previous frame first and rebuilds.

    ``defer_materialize=True`` (r17, VERDICT item 3 "fewer eager
    materializations"): skip the ``count()`` job — the composite
    funnel's FIRST eager action (the cluster edge collect) materializes
    the cache anyway, so the count was a whole extra scheduled job on
    the composite's critical path (~0.2 s of pure job overhead at
    sf0.1).  The token-stage persist then CANNOT be released here
    (unpersisting it before the corpus materializes would re-inline the
    tokenizer into every downstream HOF lambda on the fill — the 5×
    recompute the barrier exists to stop), so it is parked in the cache
    entry and the caller MUST call :func:`release_curate_tokens` after
    its first action.  Default callers keep the eager behavior
    unchanged.
    """
    from arrow_experiments_spark.functions.text import EN_STOPWORDS

    import os

    key = (id(spark), os.path.abspath(sf_dir))
    fp = _documents_fingerprint(sf_dir)
    hit = _CURATE_CACHE.get(key)
    if hit is not None:
        prev_frame, prev_fp, prev_toks = hit
        still_cached = False
        if fp is not None and fp == prev_fp:
            # an external clearCache() (tests, bench hygiene) evicts the
            # data but leaves this registry entry — returning the evicted
            # frame would silently hand every caller an UNCACHED lineage
            # (the composite funnel would re-tokenize per stage), so a
            # hit requires the persist to still be live
            try:
                sl = prev_frame.storageLevel
                still_cached = sl.useMemory or sl.useDisk
            except Exception:
                still_cached = False
        if still_cached:
            if prev_toks is not None and not defer_materialize:
                # a deferred caller raised before release_curate_tokens:
                # restore the eager contract (materialized corpus, token
                # stage released) before handing the frame out
                release_curate_tokens(spark, sf_dir)
            return prev_frame
        # Source changed (or unstatable): release the stale frame BEFORE
        # persisting the new one — the two plans are equal, so
        # unpersisting the old frame afterwards would evict the shared
        # CacheManager entry out from under the new one.
        _CURATE_CACHE.pop(key, None)
        try:
            prev_frame.unpersist()
            if prev_toks is not None:
                prev_toks.unpersist()
        except Exception:
            pass  # stopped session / already-released frame

    # persist barrier after tokenization: no CSE across HOF lambdas, see
    # _minhash_sigs
    toks = (
        widen_if_narrow(
            table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        )
        .select(
            "doc_id",
            "source",
            F.length("text").alias("text_len"),
            tokens(F.col("text")).alias("toks"),
        )
        .persist()
    )
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_tokens = F.size(F.col("toks"))
    corpus = toks.select(
        "doc_id",
        "source",
        "text_len",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.try_divide(
            F.size(F.array_distinct(F.col("toks"))).cast("double"), n_tokens
        ).alias("dr"),
        F.try_divide(
            F.size(
                F.filter(F.col("toks"), lambda x: F.array_contains(sw, x))
            ).cast("double"),
            n_tokens,
        ).alias("sr"),
        F.array_distinct(shingles3(F.col("toks"))).alias("sh"),
    ).persist()
    if defer_materialize:
        # the caller's first eager action fills the cache; the token
        # stage is parked for release_curate_tokens (unpersisting it NOW
        # would re-inline the tokenizer 5x into the fill — see docstring)
        _CURATE_CACHE[key] = (corpus, fp, toks)
    else:
        corpus.count()  # materialize the cache, then drop the token stage
        toks.unpersist()
        _CURATE_CACHE[key] = (corpus, fp, None)
    return corpus


# the JVM accessor chain _is_cache_materialized walks, (class, method)
_CACHE_ACCESSORS = (
    ("org.apache.spark.sql.internal.SharedState", "cacheManager"),
    ("org.apache.spark.sql.execution.CacheManager", "lookupCachedData"),
    ("org.apache.spark.sql.execution.CachedData", "cachedRepresentation"),
    ("org.apache.spark.sql.execution.columnar.InMemoryRelation", "cacheBuilder"),
    (
        "org.apache.spark.sql.execution.columnar.CachedRDDBuilder",
        "isCachedColumnBuffersLoaded",
    ),
)


def _is_cache_materialized(spark: SparkSession, df: DataFrame) -> bool:
    """True when ``df``'s persisted buffers are actually loaded (not
    merely declared) — read from the JVM CacheManager.  The accessors
    are private; they are probed once per SparkContext, and when one is
    missing (one warning logged) this answers False, so callers fall
    back to an explicit materialize."""
    sc = spark.sparkContext
    if not probe_once(
        sc, "cache_materialized",
        lambda: missing_jvm_methods(
            sc, [(spark._jsparkSession.getClass(), "sharedState"), *_CACHE_ACCESSORS]
        ),
        "cached frames are materialized with an explicit count()",
    ):
        return False
    opt = (
        spark._jsparkSession.sharedState()  # type: ignore[union-attr]
        .cacheManager()
        .lookupCachedData(df._jdf)
    )
    if opt.isEmpty():
        return False
    return bool(
        opt.get()
        .cachedRepresentation()
        .cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


def release_curate_tokens(spark: SparkSession, sf_dir: str) -> None:
    """Release the token-stage persist a ``defer_materialize=True``
    :func:`curate_corpus` call parked (r17).  Safe at any point: if the
    corpus cache is not yet materialized (e.g. the fast-path edge
    collect was skipped and no action ran), it is counted first —
    restoring exactly the eager path's materialize-before-release
    contract, never the 5× tokenizer re-inline."""
    import os

    key = (id(spark), os.path.abspath(sf_dir))
    hit = _CURATE_CACHE.get(key)
    if hit is None:
        return
    corpus, fp, toks = hit
    if toks is None:
        return
    if not _is_cache_materialized(spark, corpus):
        corpus.count()
    try:
        toks.unpersist()
    except Exception:
        pass
    _CURATE_CACHE[key] = (corpus, fp, None)


def _minhash_sigs(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    """(doc_id, s0..s7): the per-document MinHash signature row.

    The shingle stage is persisted before fanning out to 8 signature
    expressions: Catalyst's projection collapse would otherwise inline the
    tokenize→shingle→distinct chain into every signature (no CSE across
    higher-order-function lambdas), an ~8× recompute that measured 180s
    even at sf0.01.  At cluster scale this materialization is the standard
    LSH shape: compute signatures once, reuse across bands, the candidate
    join, and the signature-agreement estimator.

    ``corpus``: an already-persisted :func:`curate_corpus` frame; when
    given, its ``sh`` column replaces the tokenize+shingle stage entirely
    (the funnel's single-scan path).
    """
    if corpus is not None:
        sh = corpus.select("doc_id", "sh")
    else:
        docs = table(spark, sf_dir, "documents")
        # Two-stage materialization: the persist barrier after tokenization
        # stops Catalyst's projection collapse from re-inlining the whole
        # split/filter chain into each element_at inside the shingle lambda
        # (no CSE across higher-order-function lambdas — measured 5× on the
        # shingle stage alone).
        # widen first: the documents file is tiny at test SF (one input
        # split → one task) and the shuffle of raw text is cheap next to
        # the tokenize/hash chain it parallelizes; at 100 TB the source
        # has thousands of splits and widen_if_narrow SKIPS the shuffle
        # entirely (an unconditional repartition(n) would be a hard
        # exchange AQE cannot remove — see tables.widen_if_narrow).
        toks = (
            widen_if_narrow(docs, spark, sf_dir, "documents")
            .select("doc_id", tokens(F.col("text")).alias("toks"))
            .persist()
        )
        sh = toks.select(
            "doc_id", F.array_distinct(shingles3(F.col("toks"))).alias("sh")
        ).persist()
    # ONE selectExpr call for the whole 8-signature fan-out (r16): each
    # expression string parses JVM-side; the per-Column alias/select
    # chatter is gone (plan-identical to the Column form).
    sigs = sh.selectExpr(
        "doc_id",
        *[f"{minhash_sig_expr('sh', i)} AS s{i}" for i in range(_N_SIGS)],
    ).persist()
    return sigs


def _minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_idx, band_val): 8 min-hash sigs → 4 bands of 2.

    ``sigs``: an already-built :func:`_minhash_sigs` frame; when given,
    the signature stage is not recomputed (callers that need both the
    band rows and the signatures — the agreement verify — share one
    persisted signature pass)."""
    if sigs is None:
        sigs = _minhash_sigs(spark, sf_dir, corpus=corpus)
    # inline(array(named_struct(...))) in ONE selectExpr (r16): row- and
    # type-identical to the previous explode(array(struct)) + field
    # select, with one py4j call instead of ~500 of struct/alias
    # construction — and the generated plan skips the struct
    # build-then-extract pair entirely.
    inline_expr = "inline(array(" + ",".join(
        f"named_struct('band_idx', {b}, "
        f"'band_val', concat(s{2 * b}, s{2 * b + 1}))"
        for b in range(_N_BANDS)
    ) + "))"
    return sigs.selectExpr("doc_id", inline_expr)


def _minhash_bands_carrying_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, s0..s{n-1}, band_idx, band_val): band rows that carry
    their row's full signature vector, so a signature-agreement verify
    can be computed ON the band-join collision row itself instead of
    joining the sigs table back onto candidate pairs twice — the
    payload is a fixed {_N_SIGS}-int vector per band row, while the
    join-back shape paid four exchanges (sigs ×2 + candidate re-shuffles)
    (r16, session 2)."""
    inline_expr = "inline(array(" + ",".join(
        f"named_struct('band_idx', {b}, "
        f"'band_val', concat(s{2 * b}, s{2 * b + 1}))"
        for b in range(_N_BANDS)
    ) + "))"
    return sigs.selectExpr(
        "doc_id", *[f"s{i}" for i in range(_N_SIGS)], inline_expr
    )


# qualified a/b signature-agreement sum for carried-sigs band joins —
# the same integer left-fold as the oracles' _AGREE_SQL
_AGREE_AB_SQL = "(0 + " + " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_N_SIGS)
) + ")"


def _minhash_bands_sql(extra_cols: str = "") -> str:
    """CTE chain sh_t → sigs → bands.  ``extra_cols`` (e.g. ", lang")
    widens sh_t for oracles that also need document attributes."""
    sigs = ",\n               ".join(
        f"{minhash_sig_sql('sh', i)} AS s{i}" for i in range(_N_SIGS)
    )
    band_rows = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_idx, s{2 * b} || s{2 * b + 1} AS band_val FROM sigs"
        for b in range(_N_BANDS)
    )
    return f"""
        WITH sh_t AS (
            SELECT doc_id{extra_cols}, list_distinct({_SH_SQL}) AS sh
            FROM documents
        ), sigs AS (
            SELECT doc_id,
               {sigs}
            FROM sh_t
        ), bands AS (
            {band_rows}
        )
    """


@register(
    "dedup_minhash_lsh",
    "dedup",
    doc="MinHash+LSH near-dup candidates: 3-word shingles → 8 salted-md5 "
    "min-hashes → 4 bands of 2 → band-bucket self-join (shuffle key = "
    "band value; no all-pairs compare).",
    oracle=_minhash_bands_sql()
    + """
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               COUNT(DISTINCT a.band_idx) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _minhash_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        # count(*), not countDistinct(band_idx) (r16): the bands frame
        # has exactly one row per (doc_id, band_idx), so a joined pair
        # contributes at most one row per band — the band_idx values in
        # a group are distinct by construction and the Expand-based
        # distinct aggregate was pure overhead (A/B 1.92 vs 1.57 s at
        # sf0.1, identical rows).  The oracle keeps COUNT(DISTINCT ...)
        # as the declared semantics; this is the same number.
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


@register(
    "dedup_ngram_jaccard",
    "dedup",
    doc="n-gram Jaccard similarity within language blocks: pairwise over "
    "distinct 3-word shingle sets, |A∩B|/|A∪B| ≥ 0.02. Blocking key (lang) "
    "bounds the pair explosion; at scale the block would be (lang, "
    "length-bucket, LSH band).  NOTE: build() is EAGER — the pair-mass "
    "guard runs one aggregate over the persisted shingle frame before "
    "returning the plan (refuse before the unbounded shuffle exists; see "
    "_guard_pair_mass).",
    oracle=f"""
        WITH sh_t AS (
            SELECT doc_id, lang, list_distinct({_SH_SQL}) AS sh FROM documents
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / NULLIF(len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh)), 0) AS jaccard
        FROM sh_t a JOIN sh_t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / NULLIF(len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh)), 0) >= 0.02
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inverted-index shape, NOT pairwise array_intersect: explode shingles
    # and self-join on (lang, shingle), so |A∩B| falls out of a groupBy
    # count and the shuffle key is high-cardinality (lang × shingle) —
    # full parallelism instead of one task per lang block.  Identical
    # result set: jaccard ≥ 0.02 implies ≥ 1 shared shingle, and
    # zero-intersection pairs are below any positive threshold.  Measured
    # 29× vs the pairwise plan at sf0.1; at 100 TB this is the only shape
    # that works (the pairwise join materializes O(block²) array pairs).
    docs = (
        widen_if_narrow(
            table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        )
        .select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
        .persist()
        .select(
            "doc_id", "lang", F.array_distinct(shingles3(F.col("toks"))).alias("sh")
        )
        .persist()
    )
    ex = docs.select("doc_id", "lang", F.explode("sh").alias("s"))
    # sample-only guard: refuse before materializing an unbounded
    # in-bucket pair shuffle (SCALE.md: exp 1.36 on the clone corpus)
    _guard_pair_mass(
        spark,
        ex.groupBy("lang", "s").agg(F.count(F.lit(1)).alias("n")),
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_lsh",
    )
    a = ex.select(F.col("doc_id").alias("ida"), "lang", "s")
    b = ex.select(F.col("doc_id").alias("idb"), "lang", "s")
    inter = (
        a.join(b, ["lang", "s"])
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = docs.select("doc_id", F.size("sh").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    # sa/sb are per-doc shingle counts — SF-scaled, so no broadcast hint:
    # AQE broadcasts at bench SF; at corpus scale the equi-join shuffles.
    return (
        inter.join(sa, "ida")
        .join(sb, "idb")
        .select(
            F.col("ida").alias("doc_id_a"),
            F.col("idb").alias("doc_id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.02)
    )


# Transitive closure over the MinHash-LSH candidate graph as recursive
# CTEs — the oracle-side connected components shared by dedup_clusters /
# dedup_clusters_twophase / dedup_keep_canonical.
_COMP_CTES = _minhash_bands_sql().replace("WITH", "WITH RECURSIVE", 1) + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id <> b.doc_id
        ), reach AS (
            SELECT doc_id AS src, doc_id AS dst FROM documents
            UNION
            SELECT r.src, p.idb FROM reach r JOIN pairs p ON r.dst = p.ida
        ), comp AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        )
    """

_CLUSTERS_ORACLE = _COMP_CTES + """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        FROM comp
    """


def _candidate_edges(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    sigs: DataFrame | None = None,
    dedupe: bool = True,
) -> DataFrame:
    """Symmetric distinct (src, dst) candidate edges from the MinHash-LSH
    band join: both (x,y) and (y,x) survive the <> filter, so one
    propagation join covers both directions.  ``corpus``/``sigs`` thread
    an already-persisted shingle/signature frame through (the single-
    tokenize-pass discipline — callers that also need shingles or
    signatures for a verify stage share one pass instead of re-deriving
    the chain).

    ``dedupe=False`` (r16, session 2) returns the RAW collision stream —
    no distinct, no persist — for consumers that tolerate multi-band
    duplicates (dedup_clusters' driver union-find, where union(s, d) is
    idempotent): the fast path's collect then skips a full exchange and
    a wasted cache fill.  Pair-emitting consumers (the jaccard verify,
    the distributed propagation loop) need once-per-pair semantics and
    must keep the default."""
    bands = _minhash_bands(spark, sf_dir, corpus=corpus, sigs=sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    edges = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    if not dedupe:
        return edges
    return edges.distinct().persist()


# Propagation-round cap before dedup_clusters hands off to the
# large-star/small-star fallback (module-level so tests can force the
# fallback path on a normal corpus).
_PROP_MAX_ROUNDS = 25

# Small-graph fast path (r16 optimization): when the candidate edge set is
# bounded — the same size-adaptive decision Spark itself makes for
# broadcast joins — connected components are solved driver-side with
# union-find instead of 3 Spark jobs per propagation round.  The limit
# bounds the COLLECTED ROWS of the raw collision stream (session 2: the
# fast path collects without the distinct, since union-find dedupes),
# 4M rows ≈ 64 MB of (long, long) — the same order
# as a broadcast relation, far below driver memory.  Above the limit the
# distributed propagation/contraction paths run unchanged, so the 100 TB
# posture (no unbounded driver materialization) is preserved: the collect
# is gated exactly like a broadcast build side.
_DRIVER_EDGE_LIMIT = 4_000_000


def _driver_components(spark: SparkSession, tbl) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every node appearing in
    the collected edge table (pyarrow, columns src/dst), where
    cluster_id = min doc_id of the node's connected component — exactly
    the fixpoint min-label propagation converges to.  Union-find with
    path compression; roots keep the component minimum (union attaches
    the larger root under the smaller), so find(x) is the min id.

    cluster_size is counted here too (r16): every doc OUTSIDE the edge
    set is its own singleton (size 1 by construction), and every doc
    inside it belongs to a component whose full membership is exactly
    the collected nodes — so the driver knows every cluster's size for
    free, and the fast path needs NO count-over-window (which cost a
    full-corpus exchange + sort on cluster_id in every consumer)."""
    src = tbl.column("src").to_pylist()
    dst = tbl.column("dst").to_pylist()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src, dst):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    nodes = set(src)
    nodes.update(dst)
    roots = {n: find(n) for n in nodes}
    sizes: dict[int, int] = {}
    for r in roots.values():
        sizes[r] = sizes.get(r, 0) + 1
    # Arrow BOTH ways (r17; r16 verdict #7): the edges arrived via
    # toArrow(), so hand the labels back as a pyarrow table too —
    # createDataFrame(list-of-tuples) pickles every row through the py4j
    # channel, while the Arrow path ships columnar buffers.  Bounded by
    # the same _DRIVER_EDGE_LIMIT gate either way; the resulting plan is the
    # same LocalRelation.
    import pyarrow as pa

    labels = pa.table(
        {
            "doc_id": pa.array(list(roots.keys()), type=pa.int64()),
            "cluster_id": pa.array(list(roots.values()), type=pa.int64()),
            "cluster_size": pa.array(
                [sizes[r] for r in roots.values()], type=pa.int64()
            ),
        }
    )
    return spark.createDataFrame(labels)


@register(
    "dedup_clusters",
    "dedup",
    doc="duplicate clustering: connected components over the MinHash-LSH "
    "candidate graph (cluster_id = min doc_id in component).  Strategy is "
    "size-adaptive like a broadcast-join decision: a candidate graph "
    "under 4M edges (broadcast-relation-sized) "
    "is solved driver-side with union-find in one collect; a larger one "
    "runs iterative min-label propagation (one shuffle join per round, "
    "convergence by the monotone sum-of-labels invariant), and if the "
    "25-round cap is hit (component diameter > 25), falls back to "
    "large-star/small-star contraction (O(log n) rounds) — same output "
    "contract on every path, no user-visible failure mode.  Each "
    "propagation round ends with localCheckpoint (like "
    "_two_phase_components): persist caches data but the logical plan "
    "still nests round over round, growing driver-side planning time "
    "and compounding cache-size estimates into PiB-scale artifacts; "
    "truncation keeps rounds O(1).",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    df, _carried = _clusters_impl(spark, sf_dir, corpus, carry=None)
    return df


def _clusters_impl(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    carry: list | None = None,
) -> tuple[DataFrame, bool]:
    """dedup_clusters' engine, with an optional carry-through (r17,
    guide §2.4): ``carry`` is a list of aliased Columns evaluated
    against the label base (the threaded corpus frame, or the documents
    table).  On the DRIVER FAST PATH the carried columns ride the
    LocalRelation broadcast join, so a consumer that needs per-doc
    attributes next to the labels (dedup_keep_canonical's text_len
    tie-break) skips its own join-back onto the corpus — at bench scale
    that join-back was two exchanges + a join for columns the base scan
    already held; at 100 TB it re-shuffles the corpus by doc_id for no
    reason.  Returns ``(frame, carried)``: the distributed paths return
    ``carried=False`` (the propagation loop's labels evolve per round —
    widening every checkpoint with payload columns is exactly the
    carry-wide-payloads anti-pattern r16 rejected), and the caller
    joins the old way."""
    from pyspark.sql.window import Window

    # Size-adaptive strategy pick (r16): a bounded graph is solved
    # driver-side (union-find — microseconds where each propagation
    # round costs 3 scheduled jobs); an unbounded one takes the
    # distributed loop below, unchanged.  Identical output by
    # construction: both compute min-doc_id-per-component.
    # ONE job decides AND delivers (r16 continuation): collecting
    # limit(L+1) rows replaces the earlier count()-then-toArrow() pair —
    # if at most L rows come back the whole edge set is already on the
    # driver, and L+1 rows means "too big" exactly like count() > L did,
    # with the limit short-circuiting the scan instead of aggregating
    # it.  The driver-memory bound is unchanged: never more than L+1
    # (long, long) rows are collected, the same broadcast-relation-order
    # gate as before.
    # RAW collision stream for the collect (r16, session 2): union-find
    # is idempotent under duplicate edges, so the fast path skips the
    # distinct's full exchange AND the wasted persist fill (the
    # collected rows are never re-read distributed).  The gate therefore
    # bounds collision ROWS (≤ bands × duplicate pairs) — strictly more
    # conservative than distinct-edge count, so a graph near the limit
    # falls back to the distributed path a little earlier; both paths
    # emit identical labels, so the strategy choice is invisible.
    edges_raw = _candidate_edges(spark, sf_dir, corpus=corpus, dedupe=False)
    edge_limit = _DRIVER_EDGE_LIMIT
    edge_tbl = (
        edges_raw.limit(edge_limit + 1).toArrow() if edge_limit > 0 else None
    )
    if edge_tbl is not None and edge_tbl.num_rows <= edge_limit:
        comp = _driver_components(spark, edge_tbl)
        # label base from the persisted corpus frame when one is threaded
        # through (the composite funnel): keeps the single-scan contract
        # — a fresh table() scan here would put a second ReadSchema into
        # pipeline_curate_end_to_end's final plan
        base = (
            corpus if corpus is not None else table(spark, sf_dir, "documents")
        ).select("doc_id", *(carry or []))
        carried = [c for c in base.columns if c != "doc_id"]
        # cluster_size comes from the driver union-find itself (every
        # edge-component's membership is exactly the collected nodes;
        # everything else is a singleton), so the fast path emits sizes
        # by coalesce instead of a count-over-window — removing a
        # full-corpus Exchange+Sort on cluster_id from this plan AND
        # from every consumer (dedup_keep_canonical, the curate
        # composites).  Measured row-identical at sf0.1.
        return (
            base.join(comp, "doc_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
                F.coalesce("cluster_size", F.lit(1).cast("bigint")).alias(
                    "cluster_size"
                ),
                *carried,
            ),
            True,
        )
    # Distributed path: the propagation loop re-reads the edge set every
    # round, so HERE the once-per-pair distinct + persist earn their keep
    # (multi-band duplicate edges would multiply every round's join
    # output).
    edges = edges_raw.distinct().persist()
    # Labels cover the full corpus, deliberately: a parquet-derived labels
    # side carries accurate size stats, so AQE broadcasts it in the
    # per-round join (no edge shuffle).  The tempting "restrict labels to
    # edge nodes" variant measured 3-10× SLOWER here — the shuffle-derived
    # restricted labels lose their size estimate and every round degrades
    # to a sort-merge shuffle of the edge set.  At a scale where labels no
    # longer broadcast, the right shape is co-partitioning edges and labels
    # on doc_id once (bucketed layout), or large-star/small-star.
    labels = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .persist()
    )
    # Min-label propagation: labels only ever decrease, so the global label
    # sum is strictly monotone and sum-equality certifies the fixpoint
    # (one cheap scalar aggregate per round, no row-wise diff join).
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    converged = False
    for _ in range(_PROP_MAX_ROUNDS):
        nbr_min = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
            # localCheckpoint, not persist: persist caches DATA but the
            # logical plan still nests round over round, and per-round
            # driver-side planning grows with it (measured 0.7 -> 1.4 s
            # by round 4 at sf0.1; flat 0.3 s checkpointed — and the
            # compounding cache-size estimates go with it).  Same pattern
            # as _two_phase_components; swap for checkpoint() with a
            # reliable dir on a multi-node cluster.
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # A component with diameter > the cap would otherwise silently
        # return stale labels diverging from the transitive-closure
        # oracle.  Fall back to large-star/small-star contraction
        # (O(log n) rounds regardless of diameter) — same output
        # contract, so the caller never sees the cap.
        labels.unpersist()
        comp = _two_phase_components(edges)
        labels = (
            table(spark, sf_dir, "documents")
            .select("doc_id")
            .join(comp, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        )
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        ),
        False,
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _two_phase_components(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Large-star / small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): alternating star contractions converge in O(log n) rounds
    regardless of component diameter, vs diameter rounds for plain label
    propagation.

    large-star(u): connect every strictly-larger neighbor to
    m = min(Γ(u) ∪ {u});  small-star(u) over larger→smaller canonical
    edges: connect every neighbor and u itself to m.  Both are one
    groupBy + one join per round — the same shuffle shape as a round of
    propagation, but the number of rounds drops from O(diameter) to
    O(log n).  Fixpoint = the canonical edge set stops changing (checked
    with an exceptAll anti-diff, one extra shuffle per round).

    Input: symmetric distinct (src, dst), src != dst.  Output: (doc_id,
    cluster_id) for every node that appears in an edge.

    Each round ends with ``localCheckpoint`` — the star contractions
    union lineages of lineages, so without truncation the logical plan
    doubles per round and plan *construction* (not execution) OOMs the
    JVM after ~10 rounds.  On a multi-node cluster swap for
    ``checkpoint()`` with a reliable checkpoint dir (localCheckpoint is
    executor-local).
    """
    E = edges.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_rounds):
        # ---- large-star: Γ over the symmetric edge set ----
        m = (
            E.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
        )
        large = (
            E.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small-star: Γ over larger→smaller canonical edges ----
        canon = (
            _symmetrize(large)
            .where(F.col("src") > F.col("dst"))
            .localCheckpoint(eager=True)
        )
        m2 = (
            canon.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.col("mn").alias("m"))  # all dst < src, so mn is the min
        )
        small = (
            canon.join(m2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m2.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        new_E = _symmetrize(small).localCheckpoint(eager=True)
        changed = new_E.exceptAll(E).limit(1).count()
        E = new_E
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "two-phase connected components did not converge within "
            f"{max_rounds} rounds"
        )
    # At the fixpoint every component is a star: non-root nodes point at
    # the root (the component min).
    return E.where(F.col("src") > F.col("dst")).select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )


@register(
    "dedup_clusters_twophase",
    "dedup",
    doc="duplicate clustering via large-star/small-star contraction "
    "(O(log n) rounds — the scale path for high-diameter components that "
    "min-label propagation's round cap rejects).  Same candidate graph, "
    "same output contract, same transitive-closure oracle as "
    "dedup_clusters.",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    edges = _candidate_edges(spark, sf_dir)
    comp = _two_phase_components(edges)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


@register(
    "decontaminate_ngram_overlap",
    "dedup",
    doc="benchmark decontamination: training docs (source <> 'src0') "
    "sharing ≥ 3 distinct 3-word shingles with any eval doc (source = "
    "'src0').  The eval side is a tiny broadcast inverted index, so the "
    "training corpus streams through map-side — at 100 TB the benchmark "
    "set is KBs against TBs of training data and this is the only shape "
    "that avoids shuffling the corpus.",
    oracle=f"""
        WITH sh_t AS (
            SELECT doc_id, source, list_distinct({_SH_SQL}) AS sh FROM documents
        ), ev AS (
            SELECT doc_id AS eval_id, unnest(sh) AS s FROM sh_t WHERE source = 'src0'
        ), tr AS (
            SELECT doc_id AS train_id, unnest(sh) AS s FROM sh_t WHERE source <> 'src0'
        )
        SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM tr JOIN ev USING (s)
        GROUP BY train_id, eval_id
        HAVING COUNT(*) >= 3
    """,
)
def decontaminate_ngram_overlap(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    if corpus is not None:
        sh = corpus.select("doc_id", "source", "sh")
    else:
        sh = (
            widen_if_narrow(
                table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
            )
            .select("doc_id", "source", tokens(F.col("text")).alias("toks"))
            .persist()
            .select(
                "doc_id",
                "source",
                F.array_distinct(shingles3(F.col("toks"))).alias("sh"),
            )
        )
    ev = (
        sh.filter(F.col("source") == "src0")
        .select(F.col("doc_id").alias("eval_id"), F.explode("sh").alias("s"))
    )
    tr = (
        sh.filter(F.col("source") != "src0")
        .select(F.col("doc_id").alias("train_id"), F.explode("sh").alias("s"))
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def _simhash_bit_sums_sql() -> str:
    cases = ",\n               ".join(
        f"SUM(CASE WHEN (v >> {p}) & 1 = 1 THEN 1 ELSE -1 END) AS b{p}"
        for p in range(16)
    )
    bits = " + ".join(f"(CASE WHEN b{p} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(16))
    hexv = (
        "((strpos('0123456789abcdef', md5(tok)[1]) - 1) * 4096"
        " + (strpos('0123456789abcdef', md5(tok)[2]) - 1) * 256"
        " + (strpos('0123456789abcdef', md5(tok)[3]) - 1) * 16"
        " + (strpos('0123456789abcdef', md5(tok)[4]) - 1))"
    )
    toks = TOKENS_SQL.format(col="text")
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({toks}) AS tok FROM documents
        ), tv AS (
            SELECT doc_id, {hexv} AS v FROM tok
        ), bitsum AS (
            SELECT doc_id,
               {cases}
            FROM tv GROUP BY doc_id
        ), sh AS (
            SELECT doc_id, {bits} AS simhash FROM bitsum
        )
        SELECT doc_id, simhash,
               COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
        FROM sh
    """


@register(
    "dedup_simhash",
    "dedup",
    doc="16-bit SimHash per document from md5-derived token hashes "
    "(per-bit ±1 vote, sign → bit); bucket_size groups identical "
    "fingerprints. At scale: groupBy simhash replaces any pairwise pass.",
    oracle=_simhash_bit_sums_sql(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(md5_str(F.col("tok")), 1, 4), 16, 10).cast("long").alias("v"),
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("v"), p).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{p}")
            for p in range(16)
        ]
    )
    simhash = sum(
        [F.when(F.col(f"b{p}") >= 0, F.lit(1 << p)).otherwise(F.lit(0)) for p in range(16)],
        start=F.lit(0),
    )
    w = Window.partitionBy("simhash")
    return bit_sums.select("doc_id", simhash.cast("bigint").alias("simhash")).select(
        "doc_id", "simhash", F.count(F.lit(1)).over(w).alias("bucket_size")
    )


_EMB_LSH_BANDS = 3
_EMB_LSH_BITS = 4

# ---- cell geometry derived from the corpus (r7 verdict #2) ----------------
# In-bucket work of the bounded top-k scorer is quadratic in bucket
# population, so bits grow with the corpus (each bit halves expected cell
# population; the recall cost is bought back by adding bands):
#   bits = max(4, ceil(log2(N / _EMB_TARGET_CELL_POP)))
# This holds cell population ≈ 2000 as N grows — the SCALE.md decade sweep
# measured the fixed-bits decade exponent at ~2 (quadratic in-cell scorer)
# and the matched-population arm at ~1.  2000 reproduces the sweep's
# measured-good geometry: at the 100× corpus (200k vectors) it derives
# 7 bits, the arm that ran 4.9× faster than the 4-bit floor; at every
# oracle fixture (N ≤ 32,000) it derives the floor 4.  The oracles run
# the same derivation, so builder and oracle always share one geometry.
_EMB_TARGET_CELL_POP = 2000


def _parquet_num_rows(path: str) -> int | None:
    """Footer-metadata row count of a parquet file or directory — no
    Spark job, no data pages read.  None when the path isn't locally
    statable (remote FS → caller falls back to a Spark count)."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            total = 0
            for dirpath, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, f)
                        ).metadata.num_rows
            return total
    except Exception:
        return None
    return None


def _embeddings_n(spark: SparkSession | None, sf_dir: str) -> int:
    """Corpus size N for geometry derivation: the parquet footer count,
    else (footer unreadable) one Spark count on ``spark``."""
    import os

    n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    if n is not None:
        return n
    if spark is None:
        raise RuntimeError(
            f"cannot derive the embeddings corpus size for {sf_dir!r} "
            "without a live session (footer metadata unreadable)"
        )
    return table(spark, sf_dir, "embeddings").count()


def derive_lsh_bits(n: int, target_pop: int, floor: int = 4) -> int:
    """bits = max(floor, ceil(log2(N / target_pop))): the smallest bit
    count whose expected cell population ≤ target_pop, floored at the
    oracle geometry."""
    import math

    if n <= target_pop:
        return floor
    return max(floor, math.ceil(math.log2(n / target_pop)))


def _emb_lsh_bits(spark: SparkSession | None, sf_dir: str) -> int:
    """Sign-bit count for the embedding LSH family, derived from the
    corpus size.  The geometry-parametric oracles (r9 verdict #1) call
    this with the same ``sf_dir`` the builder sees, so the DuckDB SQL is
    regenerated at the derived bit count and the comparison is
    structurally aligned at every corpus size."""
    return derive_lsh_bits(
        _embeddings_n(spark, sf_dir), _EMB_TARGET_CELL_POP, floor=_EMB_LSH_BITS
    )


def _emb_band_union_sql(bits: int = _EMB_LSH_BITS) -> str:
    from arrow_experiments_spark.operators.similarity import lsh_bucket_sql

    return " UNION ".join(
        f"SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b "
        f"FROM nz a JOIN nz b "
        f"ON {lsh_bucket_sql('a.embedding', band, bits)}"
        f" = {lsh_bucket_sql('b.embedding', band, bits)}"
        f" AND a.vec_id < b.vec_id"
        for band in range(_EMB_LSH_BANDS)
    )


@register(
    "dedup_embedding_cosine",
    "dedup",
    doc="embedding-cosine near-dup blocked on hyperplane-LSH buckets: "
    f"{_EMB_LSH_BANDS} bands × {_EMB_LSH_BITS} sign-bits over the "
    "deterministic LCG hyperplane family (similarity.lsh_bucket_col — "
    "bit-identical in both engines), candidate pairs = union of same-bucket "
    "pairs across bands, scored with an exact double fold snapped to 6 "
    "decimals, kept at cosine ≥ 0.3.  Scale posture: the shuffle key is "
    "(band, bucket) — cell population is tuned by adding bits, unlike the "
    "fixed label vocabulary this replaces; recall is tuned by adding "
    "bands (at the production threshold 0.9 three 4-bit bands give ~90% "
    "recall; the 0.3 gate here just exercises more pairs at test scale).  "
    "NOTE: build() is EAGER — the pair-mass guard runs one aggregate over "
    "the persisted bucket frame before returning the plan (refuse before "
    "the unbounded shuffle exists; see _guard_pair_mass).",
    oracle=f"""
        WITH nz AS (SELECT * FROM embeddings WHERE {norm_sql('embedding')} > 0),
        cand AS ({_emb_band_union_sql()})
        SELECT vec_id_a, vec_id_b,
               CAST(CAST({cosine_sql('a.embedding', 'b.embedding')} AS DECIMAL(28,6)) AS DOUBLE)
                   AS cos_sim
        FROM cand JOIN embeddings a ON cand.vec_id_a = a.vec_id
                  JOIN embeddings b ON cand.vec_id_b = b.vec_id
        WHERE CAST(CAST({cosine_sql('a.embedding', 'b.embedding')} AS DECIMAL(28,6)) AS DOUBLE)
              >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        lsh_cells_col,
    )

    emb = _nonzero_embeddings(spark, sf_dir).select("vec_id", "embedding")
    # (vec_id, band, bucket) — buckets materialized once behind a persist
    # barrier.  All bands' cells come from the ONE Arrow-batched numpy
    # kernel (r16): bit-identical to the per-band lsh_bucket_col folds,
    # but vectorized over the batch instead of ~bands × bits × dim
    # interpreted lambda evals per row (measured 4× on the banded stage
    # at sf0.1; the gap widens with corpus size — guide §4.2).
    banded = emb.select(
        "vec_id",
        F.posexplode(
            lsh_cells_col(F.col("embedding"), _EMB_LSH_BANDS, _EMB_LSH_BITS)
        ).alias("band", "bucket"),
    ).persist()
    # sample-only guard: the union-of-bucket-pairs output is unbounded in
    # dup density (SCALE.md: out-spills disk on the clone corpus where
    # the per-vector top-k sibling completes)
    _guard_pair_mass(
        spark,
        banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n")),
        "dedup_embedding_cosine",
        "dedup_embedding_topk_grouped",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id_a"), F.col("b.vec_id").alias("vec_id_b"))
        .distinct()  # a pair may collide in several bands
    )
    scored = emb.select(
        "vec_id", "embedding", vnorm("embedding").alias("nrm")
    )
    sa = scored.alias("sa")
    sb = scored.alias("sb")
    cos = snap6(
        dot("sa.embedding", "sb.embedding")
        / (F.col("sa.nrm") * F.col("sb.nrm"))
    )
    return (
        cand.join(sa, F.col("vec_id_a") == F.col("sa.vec_id"))
        .join(sb, F.col("vec_id_b") == F.col("sb.vec_id"))
        .select("vec_id_a", "vec_id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


def _emb_inc_cand_sql(bits: int = _EMB_LSH_BITS) -> str:
    """delta-probes-base band union: candidates where the delta side
    (vec_id % 10 = 0) shares a hyperplane-LSH cell with a base vector."""
    from arrow_experiments_spark.operators.similarity import lsh_bucket_sql

    return " UNION ".join(
        f"SELECT a.vec_id AS did, b.vec_id AS bid "
        f"FROM nz a JOIN nz b "
        f"ON {lsh_bucket_sql('a.embedding', band, bits)}"
        f" = {lsh_bucket_sql('b.embedding', band, bits)}"
        f" AND a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0"
        for band in range(_EMB_LSH_BANDS)
    )


def _emb_inc_oracle(spark: SparkSession | None, sf_dir: str) -> str:
    bits = _emb_lsh_bits(spark, sf_dir)
    return f"""
        WITH nz AS (SELECT * FROM embeddings WHERE {norm_sql('embedding')} > 0),
        cand AS ({_emb_inc_cand_sql(bits)}),
        near AS (
            SELECT DISTINCT c.did FROM cand c
            JOIN embeddings a ON c.did = a.vec_id
            JOIN embeddings b ON c.bid = b.vec_id
            WHERE CAST(CAST({cosine_sql('a.embedding', 'b.embedding')} AS DECIMAL(28,6)) AS DOUBLE)
                  >= 0.3
        )
        SELECT v.vec_id, v.label FROM nz v
        WHERE v.vec_id % 10 = 0
          AND NOT EXISTS (SELECT 1 FROM near n WHERE n.did = v.vec_id)
    """


@register(
    "dedup_embedding_incremental",
    "dedup",
    doc="incremental-ingest embedding near-dup gate — the batch twin of "
    "streaming/egress.py's incremental_embedding_dedup_sink: the delta "
    "feed (every 10th vector) admits only vectors with NO base "
    "near-duplicate at snapped cosine >= 0.3 among hyperplane-LSH "
    f"candidates ({_EMB_LSH_BANDS} bands × auto-derived sign-bits, "
    "delta cells probe base cells only — never base×base).  At 100 TB "
    "the base side is the sink's persisted CELL INDEX, bucketed on "
    "(band, cell) so the probe reads only the delta's touched buckets; "
    "the 0.3 threshold is dedup_embedding_cosine's test-scale gate "
    "(production ~0.9 — a parameter, not a shape change).  Eager "
    "pair-mass guard, same as the cosine op.  Bit count derives from "
    "the corpus footer count exactly like dedup_embedding_topk_grouped; "
    "the oracle is geometry-parametric, regenerated at the same bits.",
    oracle=_emb_inc_oracle,
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        lsh_cells_col,
    )

    emb = _nonzero_embeddings(spark, sf_dir)
    bits = _emb_lsh_bits(spark, sf_dir)
    is_delta = F.col("vec_id") % 10 == 0
    # all bands' cells from the ONE Arrow-batched kernel (r16, see
    # dedup_embedding_cosine) — bit-identical to the per-band folds.
    # label rides along (session 2) so the final delta emit reads the
    # banded CACHE instead of a fourth embeddings scan (ReadSchema
    # 4 → 3, row-identical; +4 bytes × bands rows of cache width).
    banded = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            lsh_cells_col(F.col("embedding"), _EMB_LSH_BANDS, bits)
        ).alias("band", "bucket"),
    ).persist()
    # guard on the TRUE join mass — delta×base per cell, not all-pairs
    # (a 10% delta makes all-pairs overestimate ~5×)
    _guard_pair_mass(
        spark,
        banded.groupBy("band", "bucket")
        .agg(
            F.sum(F.when(is_delta, 1).otherwise(0)).alias("nd"),
            F.sum(F.when(~is_delta, 1).otherwise(0)).alias("nb"),
        )
        .select((F.col("nd") * F.col("nb")).alias("pairs")),
        "dedup_embedding_incremental",
        "dedup_embedding_topk_grouped",
    )
    a = banded.filter(is_delta).alias("a")
    b = banded.filter(~is_delta).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.vec_id").alias("did"), F.col("b.vec_id").alias("bid"))
        .distinct()
    )
    scored = emb.select(
        "vec_id", "embedding", vnorm("embedding").alias("nrm")
    )
    sa = scored.alias("sa")
    sb = scored.alias("sb")
    cos = snap6(
        dot("sa.embedding", "sb.embedding")
        / (F.col("sa.nrm") * F.col("sb.nrm"))
    )
    # The distinct on the near set STAYS (r17, examined and kept): the
    # anti join below would tolerate duplicates, but without the
    # distinct the right side carries one row per MATCHING NEIGHBOR —
    # unbounded in dup density — instead of one per flagged doc, and
    # the distinct's exchange is reused by the anti join anyway (A/B
    # measured the dedup-free form consistently ~0.2 s SLOWER at sf0.1
    # with identical exchange counts).
    near = (
        cand.join(sa, F.col("did") == F.col("sa.vec_id"))
        .join(sb, F.col("bid") == F.col("sb.vec_id"))
        .filter(cos >= 0.3)
        .select("did")
        .distinct()
    )
    # delta emit from the banded cache — every vector has a band-0 row,
    # so this is exactly the delta id/label set without another scan
    return (
        banded.filter(is_delta & (F.col("band") == 0))
        .select("vec_id", "label")
        .join(near, F.col("vec_id") == F.col("did"), "left_anti")
        .select("vec_id", "label")
    )


@register(
    "dedup_ngram_jaccard_lsh",
    "dedup",
    doc="two-stage near-dup: MinHash-LSH band join proposes candidate "
    "pairs, exact n-gram Jaccard verifies ONLY those pairs (threshold "
    "0.02).  This is the 100 TB shape for Jaccard dedup: SCALE.md "
    "measures the all-pair inverted-index scorer at exponent ~1.36 on a "
    "dup-dense corpus, while the LSH candidate stage stays ~0.68 — "
    "verification cost then tracks true near-dups, not corpus size. "
    "Result = dedup_ngram_jaccard restricted to LSH candidates — "
    "literally: the verify stage applies the same language block as the "
    "exact scorer (tests/test_analytics.py asserts the subset relation "
    "pair-for-pair, score-for-score), so LSH bounds recall and the "
    "verify threshold is exact.",
    oracle=_minhash_bands_sql()
    + """
        , cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.ida AS doc_id_a, c.idb AS doc_id_b,
               CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / NULLIF(len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh)), 0) AS jaccard
        FROM cand c
        JOIN sh_t x ON x.doc_id = c.ida
        JOIN sh_t y ON y.doc_id = c.idb
        JOIN documents dx ON dx.doc_id = c.ida
        JOIN documents dy ON dy.doc_id = c.idb
        WHERE dx.lang = dy.lang
          AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / NULLIF(len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh)), 0) >= 0.02
    """,
)
def dedup_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE tokenize+shingle pass (r16): the shingle frame feeds BOTH the
    # candidate stage (via corpus= → _minhash_sigs consumes its sh
    # column) and the exact verify below — previously the corpus was
    # tokenized twice, once inside _candidate_edges and once here.  At
    # 100 TB the scan+tokenize is the dominant cost of the verify path.
    sh = (
        widen_if_narrow(
            table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        )
        .select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
        .persist()
        .select(
            "doc_id",
            "lang",
            F.array_distinct(shingles3(F.col("toks"))).alias("sh"),
        )
        .persist()
    )
    cand = (
        _candidate_edges(spark, sf_dir, corpus=sh)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("ida"), F.col("dst").alias("idb"))
    )
    a = sh.select(
        F.col("doc_id").alias("ida"),
        F.col("lang").alias("lang_a"),
        F.col("sh").alias("sha"),
    )
    b = sh.select(
        F.col("doc_id").alias("idb"),
        F.col("lang").alias("lang_b"),
        F.col("sh").alias("shb"),
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = F.try_divide(
        inter.cast("double"),
        (F.size("sha") + F.size("shb") - inter).cast("double"),
    )
    return (
        cand.join(a, "ida")
        .join(b, "idb")
        .filter(F.col("lang_a") == F.col("lang_b"))
        .select(
            F.col("ida").alias("doc_id_a"),
            F.col("idb").alias("doc_id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.02)
    )


@register(
    "dedup_minhash_containment",
    "dedup",
    doc="near-SUPERSET detection: MinHash-LSH candidates verified with "
    "max-containment |A∩B| / min(|A|,|B|) at threshold 0.5 instead of "
    "Jaccard.  Containment is the score web-corpus dedup needs where "
    "Jaccard fails: a page embedded in a larger boilerplate wrapper has "
    "low Jaccard (the union is dominated by the wrapper) but containment "
    "~1, so the wrapped copy is caught.  Same two-stage 100 TB shape as "
    "dedup_ngram_jaccard_lsh — band equi-join proposes, exact set "
    "arithmetic verifies only candidates — and asymmetric-size pairs "
    "survive banding because MinHash collisions track the shared-shingle "
    "fraction of EACH band's signature.",
    oracle=_minhash_bands_sql()
    + """
        , cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.ida AS doc_id_a, c.idb AS doc_id_b,
               CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / NULLIF(LEAST(len(x.sh), len(y.sh)), 0) AS containment
        FROM cand c
        JOIN sh_t x ON x.doc_id = c.ida
        JOIN sh_t y ON y.doc_id = c.idb
        WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / NULLIF(LEAST(len(x.sh), len(y.sh)), 0) >= 0.5
    """,
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE tokenize+shingle pass shared by the candidate stage and the
    # containment verify (r16 — same single-scan fix as
    # dedup_ngram_jaccard_lsh; the corpus was previously tokenized twice).
    sh = (
        widen_if_narrow(
            table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        )
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .persist()
        .select(
            "doc_id", F.array_distinct(shingles3(F.col("toks"))).alias("sh")
        )
        .persist()
    )
    cand = (
        _candidate_edges(spark, sf_dir, corpus=sh)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("ida"), F.col("dst").alias("idb"))
    )
    a = sh.select(F.col("doc_id").alias("ida"), F.col("sh").alias("sha"))
    b = sh.select(F.col("doc_id").alias("idb"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    cont = F.try_divide(
        inter.cast("double"),
        F.least(F.size("sha"), F.size("shb")).cast("double"),
    )
    return (
        cand.join(a, "ida")
        .join(b, "idb")
        .select(
            F.col("ida").alias("doc_id_a"),
            F.col("idb").alias("doc_id_b"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= 0.5)
    )


# Shared oracle for both physical forms of the per-vector top-k near-dup
# (windowed pair list vs bucket-local numpy) — identical declared result.
# Geometry-parametric (r9 verdict #1): the registered oracle is a callable
# that re-derives the bit count from the corpus the check runs against,
# exactly as the builder does, so derived-geometry corpora compare the
# same bucketing on both sides.
def _emb_topk_oracle_sql(bits: int = _EMB_LSH_BITS) -> str:
    return f"""
        WITH nz AS (SELECT * FROM embeddings WHERE {norm_sql('embedding')} > 0),
        half AS ({_emb_band_union_sql(bits)}),
        cand AS (
            SELECT vec_id_a AS vec_id, vec_id_b AS nbr_id FROM half
            UNION
            SELECT vec_id_b AS vec_id, vec_id_a AS nbr_id FROM half
        ), scored AS (
            SELECT c.vec_id, c.nbr_id,
                   CAST(CAST({cosine_sql('a.embedding', 'b.embedding')}
                        AS DECIMAL(28,6)) AS DOUBLE) AS cos_sim
            FROM cand c JOIN embeddings a ON c.vec_id = a.vec_id
                        JOIN embeddings b ON c.nbr_id = b.vec_id
        ), ranked AS (
            SELECT vec_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos_sim DESC, nbr_id) AS rnk
            FROM scored WHERE cos_sim >= 0.3
        )
        SELECT vec_id, nbr_id, cos_sim, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 4
    """


def _emb_topk_oracle(spark: SparkSession | None, sf_dir: str) -> str:
    return _emb_topk_oracle_sql(_emb_lsh_bits(spark, sf_dir))


@register(
    "dedup_embedding_topk",
    "dedup",
    doc="bounded-output embedding near-dup: per vector, its top-4 LSH-"
    "candidate neighbors at cosine ≥ 0.3 (row_number over cos desc, "
    "neighbor id asc).  Delegates to dedup_embedding_topk_grouped — the "
    "two names share one oracle and one declared result, and the grouped "
    "physical form is strictly stronger: this name's previous windowed "
    "plan materialized the O(sum bucket^2) candidate-pair shuffle before "
    "the window truncated it, and SCALE.md measured it out-spilling "
    "local disk at 100x clone density on 8 and 48 GiB heaps while the "
    "grouped form completed in 56 s.  Keeping the registration (rather "
    "than deleting the name) preserves both bench series and records "
    "the decision in the registry.",
    oracle=_emb_topk_oracle,
)
def dedup_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_embedding_topk_grouped(spark, sf_dir)


@register(
    "dedup_keep_canonical",
    "dedup",
    doc="end-to-end near-dup dedup, corpus in → surviving corpus out: "
    "MinHash-LSH candidate edges → connected components → keep ONE "
    "canonical document per cluster (longest text, doc_id tiebreak).  "
    "This is the operation a training-data pipeline actually runs; the "
    "pair- and cluster-level queries above are its observable stages.  "
    "Scale shape: component labeling is the audited dedup_clusters job "
    "(broadcast labels / two-phase fallback); canonical selection adds "
    "one shuffle on cluster_id with output bounded at one row per "
    "cluster.",
    oracle=_COMP_CTES + """
        , sized AS (
            SELECT doc_id, cluster_id,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM comp
        ), ranked AS (
            SELECT s.cluster_id, s.doc_id, s.cluster_size,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.cluster_id
                       ORDER BY LENGTH(d.text) DESC, s.doc_id
                   ) AS rn
            FROM sized s JOIN documents d USING (doc_id)
        )
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(doc_id AS BIGINT) AS kept_doc_id,
               CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(cluster_size - 1 AS BIGINT) AS n_dropped
        FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_canonical(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    from pyspark.sql.window import Window

    # text_len (the canonical tie-break) rides THROUGH the cluster
    # labeling on the driver fast path (r17, guide §2.4): the label base
    # scan already holds it, so joining the labels back onto the corpus
    # just to re-attach one column paid two doc_id exchanges + a join in
    # this plan and in every composite consumer.  The distributed paths
    # return carried=False (their labels evolve round over round —
    # widening each checkpoint is the carry-wide-payloads anti-pattern)
    # and keep the old join-back.
    carry = [
        F.col("text_len")
        if corpus is not None
        else F.length("text").alias("text_len")
    ]
    clusters, carried = _clusters_impl(spark, sf_dir, corpus, carry=carry)
    if not carried:
        if corpus is not None:
            docs = corpus.select("doc_id", "text_len")
        else:
            docs = table(spark, sf_dir, "documents").select(
                "doc_id", F.length("text").alias("text_len")
            )
        clusters = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("text_len"), F.asc("doc_id")
    )
    return (
        clusters.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "cluster_size",
            (F.col("cluster_size") - F.lit(1)).alias("n_dropped"),
        )
    )


def _bucket_topk_pdf(pdf):
    """Per-(band, bucket) exact top-k: score every in-bucket pair with a
    blocked numpy matmul and keep each vector's 4 best neighbors at
    cos >= 0.3.  State is O(block x bucket) floats — nothing the size of
    the pair list ever exists, in memory or in a shuffle file.  Tie-break
    (cos desc, nbr_id asc) is folded into one sort key: rounded cosines
    are >= 1e-6 apart when distinct, and nbr_id * 1e-13 stays well under
    that gap for any realistic id range, so argpartition on the composite
    key is the exact lexicographic order."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    if m < 2:
        return pd.DataFrame(
            {"vec_id": pd.Series([], dtype="int64"),
             "nbr_id": pd.Series([], dtype="int64"),
             "cos_sim": pd.Series([], dtype="float64")}
        )
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n = np.sqrt((V * V).sum(axis=1))
    nbr_key = ids.astype(np.float64) * 1e-13
    k = min(4, m - 1)
    out_v: list = []
    out_n: list = []
    out_c: list = []
    B = 512
    for s in range(0, m, B):
        e = min(s + B, m)
        # At large cell populations this loop is memory-bandwidth-bound,
        # not flop-bound (dim is small), so every full-matrix pass
        # counts: divide/round run in place, and the tie-break key is
        # folded into `cos` itself (-inf - finite == -inf, so masked
        # entries need no separate where/isfinite matrix).  The emitted
        # cosine is recovered by adding the key back and re-snapping to
        # the 6-decimal grid — exact, since the float64 recovery error
        # (~1e-16) is far below the grid's half-step.
        cos = V[s:e] @ V.T
        np.divide(cos, np.outer(n[s:e], n), out=cos)
        np.round(cos, 6, out=cos)
        cos[cos < 0.3] = -np.inf
        cos[np.arange(e - s), np.arange(s, e)] = -np.inf  # self-pairs
        cos -= nbr_key[None, :]
        top = np.argpartition(cos, m - k, axis=1)[:, m - k :]
        rows = np.repeat(np.arange(s, e), k)
        cols = top.ravel()
        vals = cos[rows - s, cols]
        keep = np.isfinite(vals)
        rows, cols, vals = rows[keep], cols[keep], vals[keep]
        out_v.append(ids[rows])
        out_n.append(ids[cols])
        out_c.append(np.round(vals + nbr_key[cols], 6))
    return pd.DataFrame(
        {
            "vec_id": np.concatenate(out_v).astype("int64"),
            "nbr_id": np.concatenate(out_n).astype("int64"),
            "cos_sim": np.concatenate(out_c),
        }
    )


@register(
    "dedup_embedding_topk_grouped",
    "dedup",
    doc="per-vector top-4 embedding near-dup with BOUNDED intermediate "
    "state: group by LSH (band, bucket), score each bucket's pairs with "
    "a blocked numpy matmul inside applyInPandas, emit only each "
    "vector's bucket-local top-4, then one small global merge "
    "(dropDuplicates across bands + window).  Bucket-local top-k "
    "provably preserves global top-k: a neighbor outside the top-4 of "
    "every shared bucket is dominated by >= 4 global candidates in that "
    "bucket.  Where dedup_embedding_topk's candidate shuffle is "
    "O(sum bucket^2) rows (out-spills disk at 100x clone density, "
    "SCALE.md), this form's shuffle is O(k x N x bands): the per-bucket "
    "quadratic happens in-core, blocked, and only survivors travel.  "
    "This is the Pandas-UDF-when-built-ins-can't case (SURVEY §2.6 UDF "
    "row): Spark has no bounded-state top-k aggregate, so the window "
    "form must materialize the pair list; applyInPandas is what bounds "
    "it.  Same declared result as dedup_embedding_topk (shared oracle).  "
    "Cell population is the scale lever: each extra sign-bit halves "
    "expected bucket population, so bits grow ~log2(N) with the corpus "
    "and per-bucket quadratic work stays constant (recall bought back by "
    "adding bands); SCALE.md measures it at 1000×.  Bits are DERIVED as "
    "max(4, ceil(log2(N / 2000))) from a footer-metadata corpus count "
    "(r7 verdict #2) — the 100 TB run gets linear total in-cell work, "
    "every oracle fixture derives the floor 4, and the oracle is "
    "regenerated at the same derived bit count.",
    oracle=_emb_topk_oracle,
)
def dedup_embedding_topk_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        lsh_cells_col,
    )

    emb = _nonzero_embeddings(spark, sf_dir).select("vec_id", "embedding")
    bits = _emb_lsh_bits(spark, sf_dir)
    # all bands' cells from the ONE Arrow-batched kernel (r16, see
    # dedup_embedding_cosine) — bit-identical to the per-band folds
    banded = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(
            lsh_cells_col(F.col("embedding"), _EMB_LSH_BANDS, bits)
        ).alias("band", "bucket"),
    )
    per_bucket = banded.groupBy("band", "bucket").applyInPandas(
        _bucket_topk_pdf, schema="vec_id long, nbr_id long, cos_sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        # the same pair surfaces from every shared band with the same
        # deterministic cos — collapse before the (small) global window
        per_bucket.dropDuplicates(["vec_id", "nbr_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .select("vec_id", "nbr_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


_SEMDEDUP_TAU = 0.3
_SEMDEDUP_SCALE = 1_000_000  # analytics._CENT_SCALE: exact integer centroid sums

# Cluster population: production SemDeDup holds per-cluster population
# constant by growing k with the corpus (k ≈ N / target_population).  The
# fixture's assignment is a FIXED vocabulary, so the equivalent here is a
# sub-split of each cluster by n sign-bits of the deterministic hyperplane
# LSH family — exactly "re-cluster at higher k" (verdicts and centroids
# become subcluster-scoped).  Twin of the embedding bits rule (r7 verdict
# #2): n = max(0, ceil(log2(pop / _SEMDEDUP_TARGET_POP))) where pop is the
# expected per-cluster population N / k.  25000 is the SCALE.md-measured
# linear-restored cell: the 1000× corpus (200k/cluster at the fixture's
# fixed k=10 vocabulary) derives 3 bits — exactly the arm that measured
# decade exponent 1.02; every oracle fixture (pop ≤ 200) derives 0.
_SEMDEDUP_TARGET_POP = 25000
_SEMDEDUP_FIXTURE_K = 10  # the fixture's fixed label vocabulary


def _semdedup_cluster_bits(spark: SparkSession | None, sf_dir: str) -> int:
    """Sub-split bit count for SemDeDup clusters, derived from the corpus
    size like :func:`_emb_lsh_bits`; the registered oracle is regenerated
    at the same bit count (r9 verdict #1).  The fixture assignment is a
    fixed k=10 label vocabulary; production SemDeDup grows k with N
    instead, making this sub-split a no-op there."""
    pop = _embeddings_n(spark, sf_dir) // _SEMDEDUP_FIXTURE_K
    return derive_lsh_bits(pop, _SEMDEDUP_TARGET_POP, floor=0)


def _cluster_semantic_pdf(pdf):
    """Per-cluster SemDeDup verdict: exact-integer centroid, cosine to
    centroid, and a blocked pairwise pass marking each vector dominated
    if some same-cluster vector at cosine >= tau sits strictly closer to
    the boundary — lower (cos_centroid, vec_id) in lexicographic order
    (the keep-farthest-from-centroid rule).  Output is one verdict row
    per vector: nothing the size of the pair list ever exists.  The
    centroid uses order-independent bigint sums of floor(v * 1e6) (the
    embedding_label_centroids trick) so both engines derive the same
    doubles; cosines are snapped to 6 decimals like every other
    embedding scorer in this module."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    if m == 0:
        return pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "cluster": pd.Series([], dtype="int32"),
                "cos_centroid": pd.Series([], dtype="float64"),
                "kept": pd.Series([], dtype="bool"),
            }
        )
    ids = pdf["vec_id"].to_numpy().astype("int64")
    label = np.int32(pdf["label"].iloc[0])
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    s = np.floor(V * _SEMDEDUP_SCALE).astype(np.int64).sum(axis=0)
    c = s.astype(np.float64) / float(m * _SEMDEDUP_SCALE)
    n = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((c * c).sum())
    if cn > 0:
        cosc = np.round((V @ c) / (n * cn), 6)
    else:  # degenerate all-cancelling cluster: centroid is the origin
        cosc = np.zeros(m)
    # total domination order: ascending (cos_centroid, vec_id)
    rank = np.empty(m, dtype=np.int64)
    rank[np.lexsort((ids, cosc))] = np.arange(m)
    dominated = np.zeros(m, dtype=bool)
    B = 512
    for lo in range(0, m, B):
        hi = min(lo + B, m)
        cos = V[lo:hi] @ V.T
        np.divide(cos, np.outer(n[lo:hi], n), out=cos)
        np.round(cos, 6, out=cos)
        hit = cos >= _SEMDEDUP_TAU
        hit &= rank[lo:hi, None] < rank[None, :]  # strict: also kills self
        dominated |= hit.any(axis=0)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cluster": np.full(m, label, dtype="int32"),
            "cos_centroid": cosc,
            "kept": ~dominated,
        }
    )


def _semdedup_oracle_sql(bits: int = 0) -> str:
    """Geometry-parametric SemDeDup oracle: with ``bits`` > 0 the cluster
    key is (label, subcluster) — centroids and dominance verdicts become
    subcluster-scoped, mirroring the builder's groupBy — where subcluster
    is the same deterministic hyperplane sign-bit bucket.  ``bits`` = 0
    (every small fixture) reduces the key to the bare label."""
    from arrow_experiments_spark.operators.similarity import lsh_bucket_sql

    sub_expr = lsh_bucket_sql("embedding", 0, bits) if bits > 0 else "0"
    return f"""
        WITH nz AS (
            SELECT vec_id, embedding, label, {sub_expr} AS sub
            FROM embeddings
            WHERE {norm_sql('embedding')} > 0
        ), e AS (
            SELECT label, sub, embedding[i] AS v, i - 1 AS pos
            FROM nz, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
        ), cent AS (
            SELECT label, sub, pos,
                   SUM(CAST(floor(CAST(v AS DOUBLE) * {_SEMDEDUP_SCALE}) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM e GROUP BY 1, 2, 3
        ), cvec AS (
            SELECT label, sub,
                   LIST(CAST(s AS DOUBLE) / CAST(n * {_SEMDEDUP_SCALE} AS DOUBLE)
                        ORDER BY pos) AS c
            FROM cent GROUP BY label, sub
        ), scored AS (
            SELECT nz.vec_id, nz.label, nz.sub, nz.embedding,
                   CASE WHEN {norm_sql('cvec.c')} > 0
                        THEN CAST(CAST({cosine_sql('nz.embedding', 'cvec.c')}
                                  AS DECIMAL(28,6)) AS DOUBLE)
                        ELSE 0.0 END AS cos_centroid
            FROM nz JOIN cvec ON nz.label = cvec.label AND nz.sub = cvec.sub
        )
        SELECT s.vec_id,
               CAST(s.label AS INT) AS cluster,
               s.cos_centroid,
               NOT EXISTS (
                   SELECT 1 FROM scored u
                   WHERE u.label = s.label AND u.sub = s.sub
                     AND u.vec_id <> s.vec_id
                     AND CAST(CAST({cosine_sql('u.embedding', 's.embedding')}
                              AS DECIMAL(28,6)) AS DOUBLE) >= {_SEMDEDUP_TAU}
                     AND (u.cos_centroid < s.cos_centroid
                          OR (u.cos_centroid = s.cos_centroid
                              AND u.vec_id < s.vec_id))
               ) AS kept
        FROM scored s
    """


@register(
    "dedup_semantic_clusters",
    "dedup",
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, "
    "arXiv:2303.09540): within each embedding cluster, near-identical "
    f"pairs (cosine ≥ {_SEMDEDUP_TAU}) are resolved by keeping the "
    "member FARTHEST from the cluster centroid — the paper's rule for "
    "preserving boundary examples while shedding redundant interior "
    "mass.  Cluster = the k-means assignment the codebook stage "
    "produces (embedding_kmeans_step / ann_ivf_codebook; the fixture "
    "ships it as `label`).  One verdict row per vector: (vec_id, "
    "cluster, cos_centroid, kept), kept=false iff some same-cluster "
    "vector at cosine ≥ tau has strictly lower (cos_centroid, vec_id). "
    "Physical form: ONE shuffle keyed on cluster, then a per-cluster "
    "applyInPandas kernel — exact-bigint centroid (order-independent "
    "across partitionings), blocked pairwise scoring, O(cluster) "
    "output; the pair list never exists in memory or shuffle.  Scale "
    "posture: per-cluster work is quadratic in population BY CONTRACT "
    "(SemDeDup is within-cluster pairwise), and the production knob is "
    "k — cluster count grows ∝ N (k ≈ N/target_population, e.g. 50k "
    "clusters for 100M docs in the paper) so population and per-cluster "
    "cost stay constant while total work stays linear; the same "
    "knob-not-plan story as the embedding cell-population bits, with "
    f"the tau gate at the production ~0.9 instead of the {_SEMDEDUP_TAU} "
    "that exercises pairs at fixture scale.  Because the fixture's "
    "assignment is a fixed vocabulary, large corpora sub-split each "
    "cluster by n hyperplane sign-bits — the equivalent of "
    "re-clustering at higher k (each bit halves expected population; "
    "verdicts and centroids become subcluster-scoped, as they would at "
    "higher k).  n is DERIVED as max(0, ceil(log2(pop / 25000))) from a "
    "footer-metadata corpus count (r7 verdict #2), pop = N / 10, so "
    "every oracle fixture derives 0; the oracle is geometry-parametric — "
    "regenerated at the same derived bit count, with centroids and "
    "verdicts subcluster-scoped exactly like the builder's.",
    oracle=lambda spark, sf_dir: _semdedup_oracle_sql(
        _semdedup_cluster_bits(spark, sf_dir)
    ),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        lsh_bucket_col,
    )

    emb = _nonzero_embeddings(spark, sf_dir).select("vec_id", "embedding", "label")
    bits = _semdedup_cluster_bits(spark, sf_dir)
    sub = (
        lsh_bucket_col("embedding", 0, bits)
        if bits > 0
        else F.lit(0)
    )
    return (
        emb.withColumn("subcluster", sub)
        .groupBy("label", "subcluster")
        .applyInPandas(
            _cluster_semantic_pdf,
            schema="vec_id long, cluster int, cos_centroid double, kept boolean",
        )
    )


@register(
    "dedup_jaccard_recall_eval",
    "dedup",
    doc="LSH-candidate recall evaluation for the text near-dup path (the "
    "text analog of ann_recall_eval): per language block, what fraction "
    "of the exact inverted-index scorer's >= 0.02 Jaccard pairs the "
    "MinHash-band candidate stage proposes.  This is the tune-bands-"
    "on-a-sample step a 100 TB Jaccard dedup runs before committing: "
    "the exact side is affordable on the sample, the candidate side is "
    "the production band join, and the comparison is an equi-join on "
    "the pair key + one regroup — bounded by the exact pair count.",
    oracle=_minhash_bands_sql(", lang")
    + f"""
        , cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), exact AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, a.lang
            FROM sh_t a JOIN sh_t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / NULLIF(len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh)), 0)
                  >= 0.02
        )
        SELECT e.lang,
               CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
               CAST(SUM(CASE WHEN c.ida IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_candidate_covered,
               CAST(SUM(CASE WHEN c.ida IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS recall
        FROM exact e
        LEFT JOIN cand c ON e.ida = c.ida AND e.idb = c.idb
        GROUP BY e.lang
    """,
)
def dedup_jaccard_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_a").alias("ida"), F.col("doc_id_b").alias("idb")
    )
    lang = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("ida"), "lang"
    )
    cand = (
        _candidate_edges(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("c_ida"),
            F.col("dst").alias("c_idb"),
            F.lit(1).alias("covered"),
        )
    )
    joined = (
        exact.join(lang, "ida")
        .join(
            cand,
            (F.col("ida") == F.col("c_ida")) & (F.col("idb") == F.col("c_idb")),
            "left",
        )
    )
    return joined.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_exact_pairs"),
        F.coalesce(F.sum("covered"), F.lit(0))
        .cast("bigint")
        .alias("n_candidate_covered"),
        (
            F.coalesce(F.sum("covered"), F.lit(0)).cast("double") / F.count("*")
        ).alias("recall"),
    )


@register(
    "decontaminate_flags",
    "dedup",
    doc="bounded-output decontamination: the per-training-document verdict "
    "(how many eval docs it overlaps >= 3 shingles with, and the worst "
    "overlap) instead of the full (train, eval) pair list.  This is what "
    "the pipeline actually consumes — a drop/keep flag per training doc — "
    "so output is bounded by corpus size no matter how clone-dense the "
    "eval set is (SCALE.md measures the pair form at exp 1.25 on the "
    "100x-clone corpus; the pair mass is obligated there, but nothing "
    "downstream needs it materialized).  Same broadcast eval-index "
    "map-side join; the extra regroup is keyed on train_id and "
    "partial-aggregates before the shuffle.",
    oracle=f"""
        WITH sh_t AS (
            SELECT doc_id, source, list_distinct({_SH_SQL}) AS sh FROM documents
        ), ev AS (
            SELECT doc_id AS eval_id, unnest(sh) AS s FROM sh_t WHERE source = 'src0'
        ), tr AS (
            SELECT doc_id AS train_id, unnest(sh) AS s FROM sh_t WHERE source <> 'src0'
        ), pairs AS (
            SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM tr JOIN ev USING (s)
            GROUP BY train_id, eval_id
            HAVING COUNT(*) >= 3
        )
        SELECT train_id,
               CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
               CAST(MAX(n_shared) AS BIGINT) AS max_shared
        FROM pairs GROUP BY train_id
    """,
)
def decontaminate_flags(
    spark: SparkSession, sf_dir: str, corpus: DataFrame | None = None
) -> DataFrame:
    pairs = decontaminate_ngram_overlap(spark, sf_dir, corpus=corpus)
    return pairs.groupBy("train_id").agg(
        F.count("*").cast("bigint").alias("n_eval_docs"),
        F.max("n_shared").cast("bigint").alias("max_shared"),
    )


# SQL-side signature-agreement sum, shared by both oracle projections
_AGREE_SQL = " + ".join(
    f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(_N_SIGS)
)


@register(
    "dedup_minhash_estimate",
    "dedup",
    doc="signature-agreement Jaccard ESTIMATE for LSH candidate pairs: "
    "per band-join candidate, the fraction of the 8 MinHash signatures "
    "that agree — the standard estimator E[agree/k] = J(A,B).  This is "
    "the verify stage a 100 TB pipeline runs when even candidate-bounded "
    "exact verification (re-intersecting shingle sets, "
    "dedup_ngram_jaccard_lsh) is too hot: signatures are k integers per "
    "document computed once for banding anyway, so the estimate costs "
    "one equi-join on doc_id per side and ZERO re-tokenization.  All "
    "arithmetic is integer equality plus one division by 8 — exact in "
    "both engines.  Pairs are canonical (ida < idb), agreement counts "
    "every signature (including those inside the colliding band).",
    oracle=_minhash_bands_sql()
    + f"""
        , cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.ida AS doc_id_a, c.idb AS doc_id_b,
               CAST({_AGREE_SQL} AS BIGINT) AS n_agree,
               CAST({_AGREE_SQL} AS DOUBLE) / {_N_SIGS} AS jaccard_est
        FROM cand c
        JOIN sigs x ON x.doc_id = c.ida
        JOIN sigs y ON y.doc_id = c.idb
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 8 signature ints RIDE THROUGH the band join (r16, session 2):
    # the previous shape joined the sigs table back onto the candidate
    # pairs twice (x on ida, y on idb) — four exchanges of sigs +
    # candidates that a fixed 8-int payload per band row makes
    # unnecessary.  The per-pair agreement is computed on the collision
    # row itself; the distinct collapses multi-band collisions with a
    # first() whose value is identical per pair (same signatures).
    # Measured: Exchange 13 → 7, join nodes 12 → 4, min 0.861 → 0.668 s
    # at sf0.1, row-identical; oracle keeps the declared cand→sigs-join
    # CTE (same numbers).
    sigs = _minhash_sigs(spark, sf_dir)
    bands = _minhash_bands_carrying_sigs(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).selectExpr(
        "a.doc_id AS ida", "b.doc_id AS idb", f"{_AGREE_AB_SQL} AS n_agree_i"
    )
    return (
        joined.groupBy("ida", "idb")
        .agg(F.first("n_agree_i").alias("n_agree_i"))
        .selectExpr(
            "ida AS doc_id_a",
            "idb AS doc_id_b",
            "CAST(n_agree_i AS BIGINT) AS n_agree",
            f"CAST(n_agree_i AS DOUBLE) / {_N_SIGS} AS jaccard_est",
        )
    )
