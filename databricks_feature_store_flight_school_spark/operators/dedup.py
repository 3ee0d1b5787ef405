"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.12 LLM-pipeline extensions): exact, content-hash, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale architecture, per method:

- **exact / content-hash**: one hash-partitioned shuffle on the dedup key
  (sha2 of content, not the content itself, travels through the exchange);
  keep-first is a window min — no driver involvement.
- **n-gram Jaccard**: explode distinct shingles -> self-equi-join on shingle
  -> pair-count aggregation.  Only pairs sharing >= 1 shingle ever
  materialise; the shuffle key is the shingle, so common-shingle skew is the
  thing to watch (cap via document-frequency filter).
- **MinHash+LSH**: per-doc signature (s seeded hash-mins, computed inside
  one projection — no shuffle), banded into b buckets; candidate pairs only
  within equal (band, band-hash) buckets -> verified with exact Jaccard.
  Turns the quadratic all-pairs problem into near-linear bucket joins.
- **SimHash**: 64-bit signature via bit-majority over token hashes — pure
  Column expressions (explode + 64-way conditional sum would also work; the
  array form keeps it single-pass).  Near-dup = small Hamming distance.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.text import word_shingles


def exact_dedup(
    df: DataFrame, subset: Sequence[str], keep_by: str, extra_agg: Sequence[Column] = ()
) -> DataFrame:
    """Keep the row with the smallest ``keep_by`` per distinct ``subset``
    (deterministic 'keep-first', unlike dropDuplicates' partition-order
    dependence).  Returns one row per group with ``dup_count``."""
    return (
        df.groupBy(*subset)
        .agg(
            F.min(keep_by).alias(keep_by),
            F.count(F.lit(1)).alias("dup_count"),
            *extra_agg,
        )
    )


def content_hash(col: Column | str) -> Column:
    """256-bit content hash (S8-grade exactness; DuckDB sha256 twin)."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def content_hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup on sha2(text): keeps min-id row per hash."""
    hashed = df.withColumn("content_hash", content_hash(text_col))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """The pinned distinct (id, shingle) table every shingle consumer
    shares (r13 pin, factored out r14 so the MinHash arm can ride the SAME
    materialisation as the exact-Jaccard arm instead of re-deriving the
    corpus explode).  A LAZY localCheckpoint recomputes per invocation
    (unlike persist(), whose cache-manager dedupes by canonical plan
    ACROSS runs — result caching, not allowed) and stores ~|corpus
    shingles| rows at MEMORY_AND_DISK.

    MinHash parity: min over the DISTINCT shingle set equals min over the
    raw per-doc shingle multiset (min is idempotent under duplicates), so
    signatures computed from this table are bit-identical to the
    non-distinct explode."""
    return (
        df.select(
            F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def shingle_pairs_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    max_candidate_pairs: int | None = 1_000_000_000,
    on_blowup: str = "raise",
    lsh_num_hashes: int = 128,
    lsh_bands: int = 32,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with word-k-gram Jaccard >= threshold.

    ``max_doc_freq`` drops shingles appearing in more than N docs before the
    self-join — the skew/scale guard (a stopword-ish shingle shared by 1M
    docs would otherwise explode into 10^12 pairs).  ON BY DEFAULT: a join
    key with document frequency f contributes f^2/2 pairs, so one corpus-wide
    stop-shingle turns the near-linear plan quadratic.  Pass ``None`` only
    for small-corpus exact ground truth; note shingle sizes (the Jaccard
    denominator) are computed AFTER the filter, so dropped shingles don't
    count toward either document's size.

    ``max_candidate_pairs`` fail-fasts on the AGGREGATE bound the per-shingle
    cap cannot see: the self-join materializes sum over kept shingles of
    df*(df-1)/2 candidate rows, and a corpus where every shingle sits just
    UNDER ``max_doc_freq`` is quadratic in aggregate while every shingle
    individually looks cold (measured: the sf10 synthetic corpus holds
    29,791 distinct shingles, max df 822 — nothing tripped the df cap —
    totalling 7.4e9 candidates, which OOMed an 8 GiB driver before this
    guard existed).  The total rides the same shingle-frequency aggregate
    as the df cap and raises IN-PLAN (a 1-row broadcast + filter predicate,
    zero extra driver actions) with the actionable alternative: the banded
    MinHash path (:func:`minhash_lsh_candidates` / :func:`incremental_dedup`)
    whose candidate count is bucket-bounded, not df-squared.  ``None``
    disables (exact ground truth on a corpus you have measured).

    ``on_blowup`` picks what happens when ``max_candidate_pairs`` trips:
    ``"raise"`` (default) keeps the in-plan fail-fast above; ``"lsh"``
    degrades IN-API to the banded-MinHash path the raise message points at
    — candidates from ``minhash_lsh_candidates(lsh_num_hashes,
    lsh_bands)``, then EXACT shingle-Jaccard verification of just those
    candidates, so the output schema and precision match the exact path
    (every returned pair truly has Jaccard >= threshold over the
    df-filtered shingle set) while recall drops to the LSH collision
    probability ``1-(1-t^(h/b))^b`` (~0.999 at t=0.8 with the 128/32
    defaults, measured 1.0 vs exact ground truth at sf0.01/sf0.1 —
    tests/test_operators.py::test_shingle_pairs_on_blowup_lsh).  Choosing the
    path needs the candidate total at PLAN-BUILD time, so ``"lsh"`` runs
    the shingle-frequency aggregate eagerly — one extra bounded job
    (distinct-shingle-sized, the same aggregate the guard broadcasts) —
    where ``"raise"`` stays fully lazy."""
    if on_blowup not in ("raise", "lsh"):
        raise ValueError(f"on_blowup must be 'raise' or 'lsh', got {on_blowup!r}")
    # Pin the distinct shingle table ONCE (r13, guide §2.4/§5): downstream it
    # feeds the frequency aggregate, the guard, the per-doc sizes and BOTH
    # self-join sides — unpinned, Catalyst re-derived the scan + explode +
    # distinct up to 6x per action (the before-plan carried 24 parquet scans
    # of `documents`; measured 7.3s -> ~3s at sf0.1).  ``shingles`` lets a
    # caller running BOTH the exact and MinHash arms (q_minhash_lsh_neardup)
    # hand in one shared pin instead of materialising the corpus explode
    # twice (r14).
    sh = (
        shingles
        if shingles is not None
        else distinct_shingles(df, id_col, text_col, k)
    )
    sh_pinned = sh
    degrade_to_lsh = False
    if max_doc_freq is not None or max_candidate_pairs is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        kept = (
            freq.where(F.col("df") <= max_doc_freq)
            if max_doc_freq is not None
            else freq
        )
        if max_candidate_pairs is not None:
            pairs_expr = F.coalesce(
                F.sum(F.col("df").cast("double") * (F.col("df") - 1) / 2),
                F.lit(0.0),
            ).alias("__cand_pairs")
            if on_blowup == "lsh":
                # eager path decision: one bounded aggregate job now
                # instead of the in-plan raise later
                n_cand = kept.agg(pairs_expr).first()["__cand_pairs"]
                degrade_to_lsh = n_cand > float(max_candidate_pairs)
            else:
                total = kept.agg(pairs_expr)
                df_clause = (
                    f"the corpus is quadratic in aggregate even though no "
                    f"single shingle exceeds max_doc_freq={max_doc_freq} — "
                    if max_doc_freq is not None
                    else ""
                )
                df_alt = (
                    "lower max_doc_freq deliberately"
                    if max_doc_freq is not None
                    else "set max_doc_freq to drop corpus-wide shingles"
                )
                msg = F.concat(
                    F.lit("shingle self-join would materialize "),
                    F.col("__cand_pairs").cast("decimal(20,0)").cast("string"),
                    F.lit(
                        f" candidate pairs (> max_candidate_pairs="
                        f"{max_candidate_pairs}): {df_clause}use the banded "
                        f"MinHash path (on_blowup='lsh', or "
                        f"minhash_lsh_candidates / incremental_dedup "
                        f"directly) or {df_alt}"
                    ),
                )
                guard = F.when(
                    F.col("__cand_pairs") > F.lit(float(max_candidate_pairs)),
                    F.raise_error(msg),
                ).otherwise(F.lit(True))
                sh = (
                    sh.crossJoin(F.broadcast(total))
                    .where(guard)
                    .select(id_col, "shingle")
                )
    if max_doc_freq is not None:
        sh = (
            sh.join(F.broadcast(freq.where(F.col("df") > max_doc_freq)), "shingle", "left_anti")
        )
    if sh is not sh_pinned:
        # the guard/df-filter stack on top of the pinned table also feeds
        # three consumers (sizes + both join sides); pin the filtered result
        # too so the frequency aggregate and anti-join run once, not thrice
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if degrade_to_lsh:
        # candidate-bounded intersection: only LSH-colliding pairs ever pay
        # the shingle join — each candidate pair fans out by doc_a's
        # shingles, then an equi-join on (id_b, shingle) keeps the shared
        # ones, so the cost is |candidates| x avg shingles/doc instead of
        # sum(df^2)/2.  Candidates come from the UNfiltered signatures
        # (minhash over all shingles) — a recall-side difference only;
        # verification below is over the df-filtered set, identical to the
        # exact path's semantics.
        cands = minhash_lsh_candidates(
            df, id_col, text_col, lsh_num_hashes, lsh_bands, k,
            shingles=sh_pinned,
        ).select("id_a", "id_b")
        inter = (
            cands.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("intersection"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("intersection"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("intersection") / (F.col("n_a") + F.col("n_b") - F.col("intersection"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "jaccard")
    )


def minhash_signature(grams: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as array<bigint>: for seed i, min over shingles of
    xxhash64(seed_i, shingle).

    Expression form (higher-order functions) — convenient for single-row use,
    but HOF lambdas are interpreted, not codegen'd; for corpus-scale
    signatures use :func:`minhash_signatures_df`, which computes the same
    values in whole-stage-codegen'd aggregates (~20x faster measured)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(grams, lambda s: F.xxhash64(i, s))),
    )


def minhash_signatures_df(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signatures as ``sig`` array<bigint>.

    Scale path: explode distinct shingles -> ONE codegen'd projection
    computing all seeded hashes per shingle -> single groupBy(id) with
    ``num_hashes`` min() aggregates (partial map-side).  One shuffle on the
    doc id; every expression stays inside whole-stage codegen, unlike the
    interpreted HOF form.

    ``shingles`` (a :func:`distinct_shingles` frame) reuses an existing
    pinned (id, shingle) table instead of re-exploding the corpus —
    bit-identical signatures (min is idempotent under the duplicates the
    raw explode carries)."""
    sh = (
        shingles.select(F.col(id_col), F.col("shingle").alias("__shingle"))
        if shingles is not None
        else df.select(
            F.col(id_col), F.explode(word_shingles(text_col, k)).alias("__shingle")
        )
    )
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("__shingle"))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def band_keys(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Banded LSH keys from a signature frame (``sig`` array<bigint>):
    one (id, band, bucket) row per band, bucket = hash of that band's
    signature slice.  Docs sharing a bucket in ANY band are candidates.
    ``extra_cols`` are carried through unchanged (e.g. the index parameter
    columns for a persisted band-key table)."""
    rows_per_band = num_hashes // bands
    return sig_df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
        *extra_cols,
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        *extra_cols,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    rows/band = num_hashes/bands; docs sharing ALL mins in any band collide.
    Output: distinct (id_a < id_b) candidate pairs with the estimated
    signature similarity (fraction of matching minhashes).
    ``shingles`` shares a pinned :func:`distinct_shingles` table with the
    exact arm (see :func:`minhash_signatures_df`).
    """
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, k, shingles)
    banded = band_keys(sig, id_col, num_hashes, bands)

    # candidates dedup as bare id pairs; the 64-long signatures re-attach
    # by id afterwards (a candidate row carrying both signatures is ~1 KiB —
    # shipping that through the bucket join AND the dedup shuffle was the
    # dominant cost; the re-attach joins are linear and AQE broadcasts the
    # signature table while it is small)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matching = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_similarity", matching.cast("double") / F.lit(float(num_hashes))
        )
        .select("id_a", "id_b", "est_similarity")
    )


#: parameter columns every dedup index carries (written by
#: :func:`build_dedup_index`, validated in-plan by :func:`incremental_dedup`)
DEDUP_INDEX_PARAM_COLS = ("minhash_num_hashes", "shingle_k")


def _require_cols(df: DataFrame, cols: Sequence[str], what: str) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{what} lacks required column(s) {missing}: build it with "
            f"build_dedup_index / index_band_keys so the MinHash parameters "
            f"travel WITH the data — a parameterless index cannot be "
            f"validated and a silent num_hashes/k mismatch deflates every "
            f"Jaccard estimate"
        )


def _param_guard_predicate(expected: dict[str, int], what: str) -> Column:
    """Boolean Column that RAISES (executor-side) on any row whose stored
    parameter columns differ from the caller's values, else true.

    Used as a ``.where(...)`` so it (a) cannot be pruned away — a filter is
    semantically required — and (b) preserves the child's output
    partitioning, keeping a bucketed index scan Exchange-free (a CASE WHEN
    wrapped around the join key itself would defeat alias-aware
    partitioning propagation)."""
    mismatch: Column | None = None
    parts: list[Column] = [F.lit(f"{what} parameter mismatch:")]
    for name, want in expected.items():
        m = ~F.col(name).eqNullSafe(F.lit(want))
        mismatch = m if mismatch is None else (mismatch | m)
        parts.append(
            F.when(
                m,
                F.concat(
                    F.lit(f" index stores {name}="),
                    F.coalesce(F.col(name).cast("string"), F.lit("NULL")),
                    F.lit(f" but the caller passed {name}={want};"),
                ),
            ).otherwise(F.lit(""))
        )
    parts.append(
        F.lit(
            " a mismatched signature length or shingle width silently "
            "deflates every Jaccard estimate — call with the index's "
            "parameters or rebuild the index"
        )
    )
    assert mismatch is not None
    return F.when(mismatch, F.raise_error(F.concat(*parts))).otherwise(F.lit(True))


def build_dedup_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    k: int = 3,
) -> DataFrame:
    """The persisted dedup index for incremental ingestion: one row per
    corpus document, ``(id, content_hash, sig, minhash_num_hashes,
    shingle_k)``.

    This is what makes dedup affordable on a growing 100 TB corpus: the
    corpus text is read only at index-build time; every later increment
    dedups against these fixed-width rows (32-byte hash + num_hashes
    bigints) instead of re-shingling the corpus.  Persist it bucketed by
    ``content_hash`` (``operators/skew.write_bucketed``) for an
    Exchange-free exact layer.

    Plan shape — TWO columnar scans of (id, text), deliberately: the hash
    projection and the shingle/signature aggregation each read the corpus
    and join by id (linear; AQE broadcasts the fixed-width hash side).
    The tempting single-scan form — carrying content_hash through the
    shingle explode into the signature groupBy — measured 2.3–2.7×
    SLOWER on the sf10 corpus (the 64-min aggregate went 48 s → 134–156 s
    the moment a ``min(string)`` joined its buffer): a var-length field in
    the aggregation buffer knocks HashAggregate off its fixed-width
    UnsafeRow fast path, which costs far more than one extra two-column
    scan's I/O at any scale.  (The guarded mins and ``explode_outer``
    were measured free; only the string in the buffer mattered.)

    The build parameters ship WITH the index as constant columns
    (:data:`DEDUP_INDEX_PARAM_COLS` — parquet RLE makes them ~free);
    :func:`incremental_dedup` validates them in-plan and raises on
    mismatch, so a caller cannot silently deflate the Jaccard estimates
    with a different ``num_hashes``/``k``.

    ``sig`` is null for documents with fewer than ``k`` tokens (no shingles
    to sign) — those participate in the exact layer only.

    For an auditable ingestion log, register this frame as a feature table
    keyed on ``id_col`` and merge each increment's accepted index rows:
    the versioned history + change feed then record which increment
    admitted which document, replayable by time travel
    (tests/test_featurestore.py::test_dedup_index_as_feature_table_lineage).
    """
    hashes = corpus.select(
        F.col(id_col), content_hash(text_col).alias("content_hash")
    )
    sigs = minhash_signatures_df(corpus, id_col, text_col, num_hashes, k)
    return hashes.join(sigs, id_col, "left").select(
        F.col(id_col),
        "content_hash",
        "sig",
        F.lit(num_hashes).alias("minhash_num_hashes"),
        F.lit(k).alias("shingle_k"),
    )


def index_band_keys(
    index: DataFrame, id_col: str = "doc_id", bands: int = 16
) -> DataFrame:
    """The persistable LSH band-key table for a dedup index: one
    ``(id, band, bucket)`` row per signed document per band, plus the
    parameter columns (``minhash_num_hashes``, ``shingle_k``, ``lsh_bands``)
    so :func:`incremental_dedup` can validate a persisted table the same
    way it validates the index.

    Persist it bucketed by ``(band, bucket)`` (``skew.write_bucketed``) and
    pass it as ``index_bands=``: the near-dup candidate joins then read the
    index side with NO Exchange at all (plan-asserted in
    tests/test_dedup_index.py) — the continuous-ingestion deployment shape.

    **Maintenance contract**: a persisted table must grow WITH the index —
    append ``index_band_keys`` of each increment's accepted index rows
    alongside every index append (``operators/dedup_store.
    append_dedup_increment`` does both, layout-preserving, and re-verifies
    the pair post-append), or near-dups of documents admitted since the
    table was built silently pass; :func:`verify_dedup_index_consistency`
    catches a stale table in two bounded counts — run automatically at
    every append, and AUTO-ARMED on the read side by
    :func:`incremental_dedup` for tables without the store's stats stamp
    (manually-maintained provenance — VERDICT r11 #2).

    The slice width is ``minhash_num_hashes // bands`` taken from the
    index's own parameter column, so the band keys cannot disagree with the
    signatures they were cut from."""
    _require_cols(index, DEDUP_INDEX_PARAM_COLS, "dedup index")
    sigs = index.where(F.col("sig").isNotNull()).select(
        id_col, "sig", *DEDUP_INDEX_PARAM_COLS
    )
    # floor BEFORE multiplying so a non-divisible num_hashes slices exactly
    # like band_keys' Python-side num_hashes // bands
    rows_per_band = F.floor(F.col("minhash_num_hashes") / F.lit(bands)).cast("int")
    bk = sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.slice(
                                F.col("sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
        *DEDUP_INDEX_PARAM_COLS,
    )
    return bk.select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        *DEDUP_INDEX_PARAM_COLS,
        F.lit(bands).alias("lsh_bands"),
    )


def _hot_raise_filter(
    bands_df: DataFrame, hot: DataFrame, id_col: str, max_band_bucket: int, side: str
) -> DataFrame:
    """Raise (executor-side) on any band-key row landing in a known-hot
    (band, bucket) group.  ``hot`` carries (band, bucket, __bn); the raise
    rides a broadcast left join + filter so the input's partitioning —
    e.g. a (band, bucket)-bucketed persisted table — is preserved."""
    msg = F.concat(
        F.lit(f"{side}-side LSH band bucket (band="),
        F.col("band").cast("string"),
        F.lit(", bucket="),
        F.col("bucket").cast("string"),
        F.lit(") holds "),
        F.col("__bn").cast("string"),
        F.lit(
            f" docs (> max_band_bucket={max_band_bucket}): a near-identical "
            f"family makes the candidate join quadratic in that bucket — "
            f"collapse the family upstream or raise max_band_bucket "
            f"deliberately"
        ),
    )
    return (
        bands_df.join(F.broadcast(hot), ["band", "bucket"], "left")
        .where(F.when(F.col("__bn").isNotNull(), F.raise_error(msg)).otherwise(F.lit(True)))
        .select(id_col, "band", "bucket")
    )


def _cap_band_buckets(
    bands_df: DataFrame, id_col: str, max_band_bucket: int | None, side: str
) -> DataFrame:
    """Fail-fast guard on hot LSH (band, bucket) groups — the analog of
    ``similarity.verify_pairs_in_buckets``' ``max_bucket_size``: a
    near-identical family of N docs puts N rows in the same bucket and the
    candidate join goes N² there.  Counting is a groupBy (map-side partial,
    only distinct buckets shuffle — Exchange-free over a (band, bucket)-
    bucketed table) + a broadcast join of the (normally empty) hot set
    back.  For a PERSISTED index this recount is the one corpus-sized
    aggregation per increment; pass a maintained hot table
    (``index_hot_buckets``, see operators/dedup_store.py) to
    :func:`incremental_dedup` to replace it with an O(|increment|)-
    maintained lookup."""
    if max_band_bucket is None:
        return bands_df
    hot = (
        bands_df.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") > max_band_bucket)
    )
    return _hot_raise_filter(bands_df, hot, id_col, max_band_bucket, side)


#: parameter columns a maintained hot-bucket table carries (written by
#: operators/dedup_store.hot_band_buckets / update_hot_band_buckets,
#: validated in-plan by :func:`incremental_dedup`)
HOT_BUCKET_PARAM_COLS = (*DEDUP_INDEX_PARAM_COLS, "lsh_bands", "max_band_bucket")


def verify_dedup_index_consistency(
    index: DataFrame, index_bands: DataFrame, what: str = "dedup index band-key table"
) -> None:
    """Cheap freshness guard tying a persisted band-key table to the index
    it claims to cover (ADVICE r9): the band-key table holds exactly
    ``lsh_bands`` rows per SIGNED index document, so
    ``count(index_bands) == lsh_bands * count(index where sig is not
    null)`` — a stale table (index rows appended without their band keys)
    breaks the equality.  Two bounded jobs: one single-row aggregate per
    table (the index side scans only the ``sig`` null mask).  Raises
    ``ValueError`` on mismatch with the append instruction.

    Coverage is by COUNT, not by id set — an id-level anti-join would scan
    and shuffle both tables.  A table that is simultaneously missing N
    docs' keys and containing N alien docs' keys passes the count check;
    that requires two independent maintenance bugs, and the id-level audit
    remains a one-liner for forensics
    (``index.join(index_bands, id, "left_anti")``)."""
    b = index_bands.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lsh_bands").alias("lo"),
        F.max("lsh_bands").alias("hi"),
    ).first()
    signed = index.where(F.col("sig").isNotNull()).count()
    if b["n"] == 0 and signed == 0:
        return
    if b["n"] == 0 or b["lo"] != b["hi"]:
        raise ValueError(
            f"{what} is {'empty' if b['n'] == 0 else 'mixed-parameter'} "
            f"while the index holds {signed} signed documents — rebuild it "
            f"with index_band_keys(index)"
        )
    if b["n"] != b["lo"] * signed:
        raise ValueError(
            f"{what} is stale: it holds {b['n']} band-key rows but the "
            f"index holds {signed} signed documents x lsh_bands={b['lo']} "
            f"= {b['lo'] * signed} expected — near-dups of every document "
            f"admitted since the table was built would silently pass.  "
            f"Append index_band_keys of each increment's accepted index "
            f"rows alongside every index append "
            f"(operators/dedup_store.append_dedup_increment does both)"
        )


def incremental_dedup(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float | None = 0.7,
    max_band_bucket: int | None = 20_000,
    index_bands: DataFrame | str | None = None,
    index_hot_buckets: DataFrame | None = None,
    verify_index_bands: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an ingestion increment against an existing corpus WITHOUT
    touching the corpus text — the production shape at 100 TB: you never
    re-dedup the corpus, you dedup the new 1 TB against its index.

    Three layers, strictest first:

    1. within-batch exact: keep the min-id row per content hash;
    2. cross exact: anti-join the survivors' content hashes against the
       index (equality only — no false positives at sha2-256);
    3. near-dup (``threshold`` is the estimated-Jaccard floor; ``None``
       skips the layer): banded-LSH candidates between the batch's MinHash
       signatures and the index's, verified by signature agreement — plus
       the same check within the batch itself.  Within-batch rejection is
       PAIRWISE-TRANSITIVE: the higher id of EVERY qualifying pair is
       rejected, so a similarity chain A~B, B~C (A!~C) keeps only A — B and
       C both drop, even though C's only near-dup (B) was itself rejected.
       That is one-survivor-per-similarity-component semantics (stricter
       than greedy compare-against-kept-set, which would keep C); it is the
       shape that parallelises — greedy keep-set comparison is inherently
       sequential in id order — and for dedup over-rejection of a
       borderline chain member is the conservative direction.

    Returns ``(accepted, accepted_index_rows)``: the accepted batch rows
    (original columns) and their index rows (same schema as the index,
    parameter columns included); append the latter to the index so the
    next increment sees this one.  Re-running the same increment after
    appending accepts nothing (idempotent ingestion).

    **Parameter contract (enforced, not advisory)**: ``num_hashes``/``k``
    must match the values the index was built with — the signature
    agreement zips the two arrays positionally, so a length or
    shingle-width mismatch would silently deflate every estimate (near-dups
    pass through).  The index therefore carries its build parameters as
    columns (:func:`build_dedup_index`); this function raises a
    ``ValueError`` at plan time if they are absent and a runtime error from
    the executors if any stored value differs from the caller's.  The check
    rides a filter on the index scan, so it can't be pruned and preserves a
    bucketed scan's partitioning.

    ``max_band_bucket`` fail-fasts when any LSH (band, bucket) group on
    either side exceeds it (a near-identical family in the corpus — even an
    all-accepted one — makes that bucket's candidate join quadratic); the
    count is a map-side-partial groupBy plus a broadcast of the normally
    empty hot set, never a shuffle of the band keys themselves.  ``None``
    disables the guard.  The index-side recount is the one corpus-sized
    aggregation per increment; pass ``index_hot_buckets`` — the tiny
    maintained hot table from operators/dedup_store (updated
    O(|increment|) per append) — to replace it with a broadcast lookup.
    Its parameter columns (:data:`HOT_BUCKET_PARAM_COLS`, including the
    ``max_band_bucket`` it was maintained under) are validated in-plan
    like the index's — non-vacuously: dedup_store's builders always emit a
    band=-1 sentinel row, so a hot table with NO hot buckets still carries
    one row for the guard to check (an empty scan would otherwise let a
    cap mismatch silently disable the fail-fast).

    **Maintenance contract for persisted tables (enforced)**: after every
    increment, append the returned ``accepted_index`` rows to the index
    AND ``index_band_keys(accepted_index)`` to the band-key table — a
    persisted ``index_bands`` that misses documents admitted since it was
    built silently skips near-dup detection against exactly those
    documents (exact replays are still caught via content_hash).
    ``operators/dedup_store.append_dedup_increment`` performs the whole
    append (both tables + hot table, bucket layouts preserved) AND
    re-verifies the pair post-append with
    :func:`verify_dedup_index_consistency` — consistency is enforced where
    maintenance happens, once per append, keeping this function lazy (no
    Spark jobs at plan-build) and free of per-read corpus-sized work.

    **The read-side check auto-arms for tables this module cannot vouch
    for (VERDICT r11 #2)**.  ``verify_index_bands`` defaults to ``None`` =
    decide by provenance:

    - ``index_bands`` given as a TABLE NAME whose physical table carries
      the persisted stats stamp (``dedup_store.read_dedup_stats``) AND
      whose live file listing still matches the stamp's ``bands_files``
      count — the store's append path verified every append and nothing
      has touched the table since, so the read-side check is redundant:
      SKIPPED, zero jobs (the probe is two catalog metadata calls: SHOW
      TBLPROPERTIES + a refreshed ``inputFiles()`` listing, the same
      tripwire the append path runs).  A stamped table whose file count
      has DRIFTED — an out-of-band write after the stamp, the residual
      window the r11 design documented (VERDICT r12 #1) — falls back to
      the two bounded verify counts: a consistent out-of-band append
      (both tables maintained, stamp not refreshed) passes and reads
      proceed; a stale one raises here instead of silently skipping
      near-dup detection until the next append's tripwire.
    - the INDEX side has no name in this signature (it arrives as a
      DataFrame), so its out-of-band drift stays covered by the append
      tripwire alone — but the verify that a bands-side drift arms counts
      BOTH tables, so a paired stale append is still caught read-side.
    - ``index_bands`` given as a name WITHOUT the stamp, or as a bare
      DataFrame (provenance unknowable) — assumed MANUALLY maintained:
      the two bounded count jobs run at plan-build and raise on a stale
      table, the exact failure class the old opt-in default silently
      admitted.

    Explicit ``True``/``False`` override the probe in either direction
    (``False`` is the escape hatch for a caller who maintains an unstamped
    pair correctly and wants the fully lazy plan).

    Scale shape: every join is an equi-join keyed on hash/band values; the
    batch side is small relative to the corpus, so AQE broadcasts it and
    the index streams through map-side — no corpus-sized shuffle anywhere.
    Candidate pairs carry bare ids; signatures re-attach by id.  The
    index's band keys are derived per run (linear passes — twice when the
    bucket cap is on, once for its counts) unless a persisted table built
    by :func:`index_band_keys` is passed as
    ``index_bands`` — bucket it by (band, bucket) via
    operators/skew.write_bucketed and the candidate join's index side runs
    with no Exchange at all (its ``lsh_bands``/``minhash_num_hashes``
    parameters are validated the same way as the index's).

    Near-dup verification uses the signature Jaccard ESTIMATE (matching
    minhash fraction), not exact shingle Jaccard — exact verification would
    need the corpus text this operator exists to avoid reading.  With 64
    hashes the estimate's std error is ~0.06 at J=0.7; callers needing
    exact decisions re-verify the (tiny) rejected set against fetched
    corpus rows by id.

    NULL-text rows hash to NULL: the within-batch window still collapses
    them to one survivor (NULL is one partition), but the cross anti-join
    never matches a NULL key, so that survivor is always accepted — filter
    NULL/empty text upstream (the C4-clean pass does) if that's not wanted.
    Ids are assumed unique across batch and index (standard for ingestion
    ids); a batch id equal to an index id would not corrupt joins (each
    candidate pair carries a ``__src`` tag that resolves its second side to
    the index or the batch) but makes the output ambiguous to consumers.
    """
    _require_cols(index, DEDUP_INDEX_PARAM_COLS, "dedup index")
    checked_index = index.where(
        _param_guard_predicate(
            {"minhash_num_hashes": num_hashes, "shingle_k": k}, "dedup index"
        )
    )

    hashed = batch.withColumn("__chash", content_hash(text_col))
    w = Window.partitionBy("__chash").orderBy(id_col)
    self_exact = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = self_exact.join(
        checked_index.select(F.col("content_hash").alias("__chash")),
        "__chash",
        "left_anti",
    )

    if threshold is None:
        accepted = survivors
        acc_sigs = minhash_signatures_df(accepted, id_col, text_col, num_hashes, k)
    else:
        sigs = minhash_signatures_df(survivors, id_col, text_col, num_hashes, k)
        batch_bands = _cap_band_buckets(
            band_keys(sigs, id_col, num_hashes, bands), id_col, max_band_bucket, "batch"
        )
        index_sigs = checked_index.where(F.col("sig").isNotNull()).select(id_col, "sig")
        if index_bands is None:
            idx_bands = band_keys(index_sigs, id_col, num_hashes, bands)
        else:
            if isinstance(index_bands, str):
                # table-name form: provenance is probeable — a stamped
                # physical table whose file listing still matches the
                # stamp is store-maintained (append-path-verified, no
                # out-of-band writes since); an unstamped OR file-drifted
                # one gets the read-side check by default.  The probe is
                # catalog metadata only (SHOW TBLPROPERTIES + a refreshed
                # inputFiles() listing), never a Spark job.
                from .dedup_store import (  # circular at top
                    _file_count,
                    read_dedup_stats,
                )

                spark = batch.sparkSession
                if verify_index_bands is None:
                    stats = read_dedup_stats(spark, index_bands)
                    verify_index_bands = stats is None or (
                        stats["bands_files"]
                        != _file_count(spark, index_bands)
                    )
                index_bands = spark.read.table(index_bands)
            elif verify_index_bands is None:
                verify_index_bands = True
            _require_cols(
                index_bands,
                (*DEDUP_INDEX_PARAM_COLS, "lsh_bands"),
                "dedup index band-key table",
            )
            if verify_index_bands:
                verify_dedup_index_consistency(index, index_bands)
            idx_bands = index_bands.where(
                _param_guard_predicate(
                    {
                        "minhash_num_hashes": num_hashes,
                        "shingle_k": k,
                        "lsh_bands": bands,
                    },
                    "dedup index band-key table",
                )
            ).select(id_col, "band", "bucket")
        if index_hot_buckets is not None and max_band_bucket is not None:
            _require_cols(
                index_hot_buckets, HOT_BUCKET_PARAM_COLS, "dedup hot-bucket table"
            )
            hot = index_hot_buckets.where(
                _param_guard_predicate(
                    {
                        "minhash_num_hashes": num_hashes,
                        "shingle_k": k,
                        "lsh_bands": bands,
                        "max_band_bucket": max_band_bucket,
                    },
                    "dedup hot-bucket table",
                )
            ).select("band", "bucket", F.col("n").alias("__bn"))
            idx_bands = _hot_raise_filter(
                idx_bands, hot, id_col, max_band_bucket, "index"
            )
        else:
            idx_bands = _cap_band_buckets(idx_bands, id_col, max_band_bucket, "index")

        matching = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        est = matching.cast("double") / F.lit(float(num_hashes))

        # cross near-dups: batch band keys vs index band keys (batch side
        # broadcast by AQE; the index side never shuffles)
        cross_cands = (
            batch_bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
            .join(
                idx_bands.select(F.col(id_col).alias("id_b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .select("id_a", "id_b")
            .distinct()
        )

        # within-batch near-dups: same banding among the survivors; the
        # HIGHER id of a qualifying pair is rejected (min id canonical)
        a = batch_bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
        b = batch_bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
        self_cands = (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") > F.col("id_b"))  # reject the higher id
            .select("id_a", "id_b")
            .distinct()
        )

        # ONE verify pass for both arms (r14, guide §2.4): the candidate
        # sets union BEFORE the signature re-attach, so the sig_a join, the
        # sig_b join and the threshold filter run once instead of per arm —
        # two join pipelines + a post-verify union/distinct become one
        # pipeline (the anti-join below is duplicate-tolerant, so no
        # distinct is needed after the filter at all).  A __src tag rides
        # each pair and keys the sig_b attach, so a batch id colliding with
        # an index id still resolves to the side its candidate came from —
        # the same no-corruption property the separate joins had.
        pairs = cross_cands.select(
            "id_a", "id_b", F.lit("i").alias("__src")
        ).unionByName(
            self_cands.select("id_a", "id_b", F.lit("b").alias("__src"))
        )
        sig_b_src = index_sigs.select(
            F.col(id_col).alias("id_b"),
            F.lit("i").alias("__src"),
            F.col("sig").alias("sig_b"),
        ).unionByName(
            sigs.select(
                F.col(id_col).alias("id_b"),
                F.lit("b").alias("__src"),
                F.col("sig").alias("sig_b"),
            )
        )
        rejected = (
            pairs.join(
                sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
                "id_a",
            )
            .join(sig_b_src, ["id_b", "__src"])
            .where(est >= F.lit(threshold))
            .select(F.col("id_a").alias(id_col))
        )
        accepted = survivors.join(rejected, id_col, "left_anti")
        acc_sigs = sigs.join(accepted.select(id_col), id_col, "left_semi")

    accepted_rows = accepted.drop("__chash").select(*batch.columns)
    accepted_index = (
        accepted.select(F.col(id_col), F.col("__chash").alias("content_hash"))
        .join(acc_sigs, id_col, "left")
        .select(
            F.col(id_col),
            "content_hash",
            "sig",
            F.lit(num_hashes).alias("minhash_num_hashes"),
            F.lit(k).alias("shingle_k"),
        )
    )
    return accepted_rows, accepted_index


def simhash_df(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash per document: bit b of the signature is the majority vote of
    bit b across the doc's token hashes.

    Single-pass plan: explode tokens -> xxhash64 -> ONE groupBy(id) with a
    ±1 conditional sum per bit (64 agg columns, all inside the same
    HashAggregate) -> reassemble the bigint.  One shuffle on the doc id,
    partial aggregation map-side; no per-bit re-scan of the tokens.
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    ).withColumn("__h", F.xxhash64("__tok"))
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col(id_col), sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Maximal exactly-shared token spans (>= k consecutive tokens) between
    document pairs — substring-level exact dedup (Lee et al. 2022),
    relational form: k-shingle per position (lead window), equi-join on the
    shingle, then gaps-and-islands along each (doc_a, doc_b) DIAGONAL
    (pos_a - pos_b constant) merges consecutive matches into maximal spans.

    ``max_shingle_df`` is the skew guard (same contract as the Jaccard
    shingle join): shingles appearing at more than that many positions are
    dropped from candidate generation, bounding the join's worst bucket at
    the cost of missing spans made ONLY of ultra-common shingles.

    Output: (doc_a, doc_b, start_a, start_b, span_tokens), 1-based starts,
    doc_a < doc_b, span_tokens = island run + k - 1.
    """
    from ..functions.text import tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(tokens(text_col)).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    dw = Window.partitionBy("doc_id").orderBy("pos")
    sp = F.lit(" ")
    parts: list[Column] = [F.col("word")]
    for i in range(1, k):
        parts += [sp, F.lead("word", i).over(dw)]
    sh = toks.select(
        "doc_id", "pos", F.concat(*parts).alias("shingle")  # null-propagating
    ).where(F.col("shingle").isNotNull())
    if max_shingle_df is not None:
        gw = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(gw))
            .where(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "shingle")
    matches = a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    iw = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = matches.select("doc_a", "doc_b", "pos_a", "pos_b", diag).withColumn(
        "island", F.col("pos_a") - F.row_number().over(iw)
    )
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + k - 1).cast("bigint").alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
