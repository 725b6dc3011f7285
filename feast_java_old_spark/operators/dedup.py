"""Deduplication operators for large-scale training-data pipelines.

Four families, each as a DataFrame transformation designed for the 100 TB
case:

- **exact**: hash-groupBy on content fingerprint — map-side partial
  aggregation, one shuffle of (hash, doc_id) pairs only (never the text).
- **MinHash + LSH**: shingle → k md5-minhashes → band buckets →
  bucket-equi-join for candidate pairs. Signatures are computed with
  built-in array expressions (``transform``/``array_min``/``md5``) —
  JVM-side, no UDF. The candidate join shuffles only
  (band, bucket, doc_id) triples; pair verification re-joins shingle sets
  by doc_id. This is the standard sub-quadratic near-dup pipeline.
- **SimHash**: per-token hex-digit votes folded into a 32-bit signature via
  ``aggregate``/``zip_with`` — a pure projection (zero shuffles); banded
  matching for candidates.
- **n-gram Jaccard**: exact pairwise similarity via shingle inverted index
  (explode → self-join on shingle → group by pair) — the verifier for the
  approximate families; same plan shape as a document-similarity join.

Determinism: all hashes are md5-based so the DuckDB oracle can reproduce
values bit-for-bit.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from feast_java_old_spark.operators.text import tokens


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text (built-in
    ``transform`` over an index sequence; no UDF)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _barrier(df: DataFrame, checkpoint: str | None) -> DataFrame:
    """Materialization barrier for a frame consumed by MULTIPLE plan
    branches (the r3 reused-frame class): without it every consumer
    re-executes the frame's whole upstream — Catalyst's ReusedExchange
    only fires on IDENTICAL exchange subtrees, and the per-side alias
    projections these self-joins need sit BELOW the exchange, so the
    measured reuse across this family was ZERO (r10 plan audit:
    ngram_jaccard re-ran the tokenize+shingle explode 6×).

    ``checkpoint``: ``None`` (fully lazy — the family DEFAULT, see the
    measurements below), ``"local"`` (eager executor-disk checkpoint;
    severs lineage, downstream AQE unaffected — the right opt-in when
    the shared frame's upstream is a full-corpus scan+compute pass),
    ``"persist"`` (lazy MEMORY_AND_DISK cache — optimizer-visible and
    evictable, BUT a cached subtree's output partitioning is pinned
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    default false), so under a plain 200-shuffle-partition session AQE
    cannot coalesce through it — measured 1.5 s → 21.8 s on
    ``ngram_jaccard`` at sf0.01 in driver-session conditions; use only
    in AQE-tuned sessions), or ``"reliable"`` (``setCheckpointDir``
    storage — survives executor loss on a real cluster).

    Why lazy is the default (r10, fresh-JVM interleaved A/B, best-of-3
    at sf0.1, reproduced twice): eager barriers were NET-NEGATIVE on
    every query in this family except the simhash fingerprint —
    prefix_filter 2.8 → 4.2 s, minhash verified 1.6 → 2.4 s, simhash
    verify 4.1 → 4.6 s, ngram ±0.1 s. At this scale the duplicated
    upstream is one cheap codegen explode over 5k docs, while the
    barrier costs real row-serialization I/O and serializes stages that
    otherwise pipeline. The exception that PROVES the rule:
    :func:`simhash_candidates` keeps ``checkpoint="local"`` because its
    shared frame is expensive per-row (token explode + ``bits`` SUM
    aggregates, measured 2× the candidate stage when recomputed) and
    its output is tiny (one fingerprint row per doc). That is the
    100 TB decision procedure too: barrier when
    (upstream cost × extra consumers) ≫ (materialize + reread of the
    frame), which holds for aggregate-shaped frames (small out, big in)
    and fails for explode-shaped ones (big out, cheap in)."""
    if checkpoint == "reliable":
        return df.checkpoint(eager=True)
    if checkpoint == "local":
        return df.localCheckpoint(eager=True)
    if checkpoint == "persist":
        return df.persist()
    if checkpoint is not None:
        raise ValueError(
            f"checkpoint must be 'local', 'reliable', 'persist' or None, "
            f"got {checkpoint!r}"
        )
    return df


def _cpu_wide(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit-width repartition for a CPU-dense join/verify input whose
    BYTES are small: AQE's byte-based partition coalescing would pack it
    into 1-3 tasks and serialize quadratic per-row work on one core
    (measured r16: the simhash verify stage at 7.7 s task CPU over 3
    tasks, the ngram self-join at 3.2 s over 3). An explicit partition
    count is exempt from coalescing; keyed callers co-partition both
    join sides so the join itself adds NO extra exchange — only the
    width changes. Width = the session's configured shuffle width,
    which production sessions size to the cluster (scale-adaptive: at
    real scale these frames are large and AQE would never coalesce
    below it anyway)."""
    width = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    if cols:
        return df.repartition(width, *[F.col(c) for c in cols])
    return df.repartition(width)


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """(doc_id, shingle) rows via ``posexplode`` over the token array +
    ``concat_ws(slice(arr, pos+1, n))`` — fully codegen'd AND
    **shuffle-free**, unlike both alternatives: the per-row
    higher-order-function form of :func:`shingles` is interpreted
    (measured ~10x slower per doc), and the earlier window-``lead`` form
    shuffled every token row to align leads (measured ~30% slower warm at
    sf0.1; at 100 TB that shuffle carries the whole tokenized corpus).
    Codegen fuses the generator with the projection, so the token array
    is consumed in place, never re-materialized per exploded row.

    ``distinct=False`` skips per-doc dedup — correct for MinHash (a
    duplicate shingle cannot change a min) and one shuffle cheaper.
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__arr")
    ).select("doc_id", F.posexplode("__arr").alias("pos", "tok"), "__arr")
    sh = ex.where(F.col("pos") + n <= F.size("__arr")).select(
        "doc_id",
        F.concat_ws(" ", F.slice("__arr", F.col("pos") + 1, n)).alias("shingle"),
    )
    return sh.dropDuplicates(["doc_id", "shingle"]) if distinct else sh


def exploded_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """``(doc_id, shingle)`` rows like :func:`exploded_shingles`, but
    ``shingle`` is a 64-bit xxhash64 IDENTITY instead of the 3-word
    string — for kernels that only ever compare shingles for equality
    (inverted-index joins, df counts, set intersection) and never need
    the text back (r16, guide §2.3 "shuffle keys instead of payloads" +
    "narrower types").

    A shingle's identity is one codegen'd ``xxhash64`` over the n-token
    array slice — the same bytes the string form hashes, minus the
    per-shingle ``concat_ws`` allocation+copy — and every downstream
    join/group key is an 8-byte long instead of a ~25-byte string.
    Equality of hashes == equality of shingles up to 64-bit collisions,
    the same acceptance the sets-verify strategy has always documented
    ("64-bit hashing cannot collide within a document's ~100
    shingles"); every consumer's output is pinned by a DuckDB oracle
    that recomputes from the STRINGS, so a collision at tested scale
    factors would fail the gate (deterministic hash — it never has).

    NOT for MinHash (`shingle_base_hash` is the md5 family the SQL
    oracle unrolls term for term) or any n-gram surface whose oracle
    reads the gram text (lm_backoff, pmi, unigram) — those keep
    :func:`exploded_shingles`.
    """
    ex = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__arr")
    ).select("doc_id", F.posexplode("__arr").alias("pos", "tok"), "__arr")
    sh = ex.where(F.col("pos") + n <= F.size("__arr")).select(
        "doc_id",
        F.xxhash64(F.slice("__arr", F.col("pos") + 1, n)).alias("shingle"),
    )
    return sh.dropDuplicates(["doc_id", "shingle"]) if distinct else sh


def dedup_exact(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct content hash.

    Keeps the minimum id as the canonical representative and counts
    duplicates. Shuffle carries only (hash, id) — at 100 TB the text never
    moves.
    """
    h = F.md5(F.col(content_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Universal-hash family for MinHash: one md5 per shingle gives a 28-bit
# base integer h; hash_i(s) = (A_i*h + B_i) mod P. Bounds keep every
# intermediate < 2^58, so the arithmetic is portable to engines that
# error on 64-bit overflow (DuckDB) while Spark computes identically.
MINHASH_P = 2147483647  # 2^31 - 1
_MINHASH_A = lambda i: 1000003 + 2 * i  # noqa: E731
_MINHASH_B = lambda i: 12345 + 7919 * i  # noqa: E731


def shingle_base_hash(col: Column) -> Column:
    """28-bit integer hash of a shingle: first 7 hex chars of md5.

    Identical in SQL as ``('0x' || substr(md5(s),1,7))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def minhash_hash(i: int, base: Column) -> Column:
    return (base * F.lit(_MINHASH_A(i)) + F.lit(_MINHASH_B(i))) % F.lit(MINHASH_P)


def minhash_signature(text: Column, k: int = 12, n: int = 3) -> Column:
    """Per-row k-minhash signature over word-n-gram shingles.

    One md5 per shingle; the k permutations are integer linear hashes of
    the shared base (classic universal-hash MinHash — ~k× cheaper than
    k independent digests).
    """
    bases = F.transform(shingles(text, n), lambda s: shingle_base_hash(s))

    def min_hash(i: int):
        return F.array_min(F.transform(bases, lambda b: minhash_hash(i, b)))

    return F.array(*[min_hash(i) for i in range(k)])


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(doc_id, band, bucket) LSH index rows for a corpus — the frame a
    100 TB pipeline PERSISTS as its dedup index (partitioned/bucketed by
    (band, bucket)) so later batches join against it without recomputing
    corpus signatures (see :func:`incremental_dedup`).

    Explode shingles once, then compute all k minhashes as partial
    (map-side-combining) MIN aggregates. A single per-row array
    expression would re-evaluate the whole shingle subtree k times —
    higher-order functions are interpreted (no codegen, no CSE), which
    measured ~30x slower; the explode+agg form is also the shape that
    scales (shuffle carries one signature row per doc).
    """
    rows_per_band = k // bands
    ex = exploded_shingles(df, text_col, id_col, n, distinct=False).select(
        "doc_id", shingle_base_hash(F.col("shingle")).alias("h")
    )
    sig = ex.groupBy("doc_id").agg(
        *[F.min(minhash_hash(i, F.col("h"))).alias(f"m{i}") for i in range(k)]
    )
    band_cols = []
    for b in range(bands):
        part = [F.col(f"m{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *part)).alias("bucket"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    checkpoint: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band bucket.

    Plan: project signatures (no shuffle) → explode k/bands band buckets →
    self-join on (band, bucket) → distinct (a, b) with a < b. The join key
    is a 32-char md5; skew only arises from genuinely identical bands.

    The bucket frame (shingle explode + k min-hash aggregates upstream)
    feeds BOTH self-join sides — barrier'd once (see _barrier).
    """
    buckets = _barrier(
        minhash_band_buckets(df, text_col, id_col, k, bands, n), checkpoint
    )
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def incremental_dedup(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
    verify_strategy: str = "join",
) -> DataFrame:
    """Dedup an incoming batch against an already-indexed corpus — the
    ingestion pattern a 100 TB pipeline actually runs: the corpus's LSH
    index (:func:`minhash_band_buckets`, persisted and bucketed by
    ``(band, bucket)``) is NOT recomputed per batch; only the new docs
    are signed, their buckets probe the index, and candidates are
    exact-verified. Cost per batch is O(|batch|) signatures + one
    bucket equi-join + |candidates| verification — independent of
    corpus size except through bucket occupancy.

    Emits one row per batch doc: ``(doc_id, dup_of, best_jaccard,
    n_dups, is_new)`` where ``dup_of`` is the smallest index doc-id
    whose exact n-gram Jaccard with the batch doc reaches ``threshold``
    (NULL → ``is_new`` = true), ``best_jaccard`` the max verified
    similarity. Batch and index id spaces must be disjoint (enforced:
    raises on overlap is left to the caller's contract — ids are
    namespaced upstream).

    Reference parity: the reference's ingestion path dedups rows within
    a write batch only (feast-java-old core's write path has no
    cross-batch content dedup); this operator is the corpus-scale
    generalization the LLM-pipeline surface requires.
    """
    idx_buckets = minhash_band_buckets(index_df, text_col, id_col, k, bands, n)
    new_buckets = minhash_band_buckets(batch_df, text_col, id_col, k, bands, n)
    cands = (
        new_buckets.alias("nb")
        .join(
            idx_buckets.alias("ib"),
            on=[
                F.col("nb.band") == F.col("ib.band"),
                F.col("nb.bucket") == F.col("ib.bucket"),
            ],
        )
        .select(
            F.col("nb.doc_id").alias("doc_a"),  # batch side
            F.col("ib.doc_id").alias("doc_b"),  # index side
        )
        .distinct()
    )
    both = index_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).unionByName(
        batch_df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    verified = verify_candidate_pairs(
        both, cands, n=n, threshold=threshold, strategy=verify_strategy
    )
    matches = verified.groupBy("doc_a").agg(
        F.min("doc_b").alias("dup_of"),
        F.max("jaccard").alias("best_jaccard"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return (
        batch_df.select(F.col(id_col).alias("doc_id"))
        .join(matches, F.col("doc_id") == F.col("doc_a"), "left")
        .select(
            "doc_id",
            "dup_of",
            "best_jaccard",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            F.col("dup_of").isNull().alias("is_new"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 500,
    checkpoint: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    Inverted-index join: |A∩B| from the shingle self-join, |A∪B| from
    per-doc distinct counts. Emits (doc_a, doc_b, jaccard). Quadratic only
    within shingle groups — the classic exact verifier for LSH candidates.

    ``max_df`` prunes shingles whose document frequency exceeds it from
    the SELF-JOIN input (not from the per-doc sizes): a stop-phrase
    shingle shared by millions of docs otherwise creates a
    (df choose 2)-sized join group — the quadratic blow-up that makes
    the unpruned inverted index unusable at corpus scale. Sizes stay
    unpruned so the reported jaccard is a LOWER bound of the true value
    — conservative for dedup (never merges docs that are not near-dups);
    a pair survives iff it shares enough sub-``max_df`` shingles, which
    genuine near-dup pairs do by construction (their shared shingles are
    their own rare content). ``max_df=None`` restores the exact
    all-shingles form. For candidate-restricted verification use
    :func:`verify_candidate_pairs`, whose cost is bounded by the
    candidate list instead.

    Picking ``max_df``: it must sit ABOVE the largest duplicate-cluster
    size (a shingle shared by a dup cluster has df ≈ cluster size — the
    signal) and BELOW boilerplate df (site templates, license headers —
    df ~ corpus fraction). Measured on the synthetic corpus: max shingle
    df is 7 at 500 docs and 25 at 5000 docs, ALL of it dup-cluster
    signal (a df ≤ 10 prune zeroes the 0.5-threshold result at sf0.1),
    so no threshold both prunes and preserves results there — the
    quadratic term the prune exists for (corpus-fraction boilerplate)
    only appears in real corpora, where dup-cluster size is
    corpus-independent and the default 500 clears it by 20x.
    """
    # Four consumers of the exploded-shingle frame (sizes, the df
    # aggregate, both self-join sides) — barrier-able via `checkpoint`;
    # lazy by default (recompute of the codegen explode measured cheaper
    # than the barrier at bench scale, see _barrier).
    # r16: shingle IDENTITY only (joins, df counts) — hashed kernel,
    # long keys (see exploded_shingle_hashes; oracle pins final pairs).
    sh = _barrier(
        exploded_shingle_hashes(df, text_col, id_col, n, distinct=True),
        checkpoint,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh_join = sh.join(rare, "shingle")
    else:
        sh_join = sh
    a = _cpu_wide(sh_join, "shingle").alias("a")
    b = _cpu_wide(sh_join, "shingle").alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return jac


def prefix_filter_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint: str | None = None,
) -> DataFrame:
    """AllPairs/PPJoin-style **prefix-filtered** candidate pairs for
    Jaccard ≥ ``threshold`` — recall-complete by construction, unlike
    LSH (public algorithm: Bayardo et al., WWW'07 "Scaling Up All Pairs
    Similarity Search"; Xiao et al., WWW'08 PPJoin).

    Prefix-filter theorem: order every document's shingle set by ONE
    global total order and keep only its first
    ``p = |x| − ⌈t·|x|⌉ + 1`` shingles; any two sets with
    J ≥ t must share at least one PREFIX shingle (if their prefixes
    were disjoint, the overlap ≤ (|x|−p_x) guaranteed by the remaining
    suffixes is already below the t-implied minimum |x∩y| ≥
    t/(1+t)·(|x|+|y|)). So the equi-join of prefix rows loses nothing.

    The global order is ascending document frequency (rarest first,
    shingle value as tiebreak): prefixes then hold each doc's RAREST
    shingles, so join groups are the smallest df-groups — the same
    quadratic-blow-up control :func:`ngram_jaccard_pairs` gets from
    ``max_df``, but *lossless*: rather than dropping frequent shingles
    (lower-bound jaccard), frequent shingles simply land outside most
    prefixes. No dense global rank is materialized — sorting each doc's
    rows by ``(df, shingle)`` needs only the pairwise order, so the df
    aggregate joins back and one per-doc window ranks rows (shuffle by
    doc_id, same scale as the tokenized corpus).

    A symmetric length bound (t·|a| ≤ |b| ∧ t·|b| ≤ |a|, floor'd so
    float edges can only loosen) prunes cross-size pairs before the
    groupBy. Emits DISTINCT (doc_a, doc_b, size_a, size_b) candidates —
    verify with :func:`verify_candidate_pairs` for exact pairs.
    """
    from pyspark.sql import Window

    # Only the RANKED prefix rows — the frame both self-join sides
    # consume — are barrier-able (via ``checkpoint``; lazy by default,
    # eager barriers measured SLOWER here — see _barrier). The exploded
    # shingles get no barrier hook at all: their two consumers (df
    # aggregate + ranked input) join back together and the window's
    # doc_id exchange dominates either way.
    # r16: the prefix order needs only A total order (theorem holds for
    # any); (df, hash) replaces (df, string) — identity-only kernel.
    sh = exploded_shingle_hashes(df, text_col, id_col, n, distinct=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    wall = Window.partitionBy("doc_id")
    ranked = _barrier(
        sh.join(dfreq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wall).alias("__size"),
        )
        .where(
            F.col("__rn")
            <= F.col("__size") - F.ceil(F.lit(threshold) * F.col("__size")) + 1
        ),
        checkpoint,
    )
    a = _cpu_wide(ranked, "shingle").select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("__size").alias("size_a"),
    )
    b = _cpu_wide(ranked, "shingle").select(
        F.col("doc_id").alias("doc_b"), "shingle",
        F.col("__size").alias("size_b"),
    )
    return (
        a.join(
            b,
            on=[
                a.shingle == b.shingle,
                F.col("doc_a") < F.col("doc_b"),
                F.col("size_b") >= F.floor(F.lit(threshold) * F.col("size_a")),
                F.col("size_a") >= F.floor(F.lit(threshold) * F.col("size_b")),
            ],
        )
        .select("doc_a", "doc_b", "size_a", "size_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    verify_strategy: str = "sets",
    checkpoint: str | None = None,
) -> DataFrame:
    """EXACT Jaccard pairs ≥ ``threshold`` via prefix-filtered
    candidates + restricted verification — the lossless alternative to
    MinHash-LSH→verify: no probabilistic recall, no band tuning, and
    unlike the ``max_df``-pruned inverted index the reported jaccard is
    the TRUE value, not a lower bound. Cost: one df-aggregate, one
    per-doc window, a self-join bounded by prefix-group sizes, then
    per-candidate set intersection (``verify_strategy="sets"`` — no
    pair × shingle explosion when prefixes of a low-entropy corpus
    still collide a lot). Emits (doc_a, doc_b, jaccard)."""
    cands = prefix_filter_candidates(
        df, text_col, id_col, n=n, threshold=threshold, checkpoint=checkpoint
    )
    return verify_candidate_pairs(
        df,
        cands,
        text_col=text_col,
        id_col=id_col,
        n=n,
        threshold=threshold,
        strategy=verify_strategy,
        checkpoint=checkpoint,
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 500,
    checkpoint: str | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT ``|A∩B| / |A|`` — the excerpt
    detector Jaccard structurally misses: a paragraph quoted inside a
    much longer document scores near-zero Jaccard (the union is huge)
    but containment ≈ 1 for the short side. Standard alongside
    symmetric near-dup removal when curating against wholesale
    inclusion (quotes, boilerplate-wrapped reposts, chunk reuse).

    Same inverted-index shape and document-frequency prune as
    :func:`ngram_jaccard_pairs` (shingles in > ``max_df`` docs leave
    the self-join only; per-doc sizes stay exact, so containment is a
    conservative lower bound). Emits ORDERED pairs ``(doc_small,
    doc_big, containment)`` where ``doc_small`` is the contained
    (smaller-set) side, ties on set size broken by id; both directions
    are checked from one unordered intersection count.
    """
    # sizes + hot-shingle aggregate + both self-join sides all read the
    # exploded shingles — barrier-able via `checkpoint`, lazy by default
    # (see _barrier).
    # r16: identity-only kernel — hashed shingles, long join keys.
    sh = _barrier(
        exploded_shingle_hashes(df, text_col, id_col, n, distinct=True),
        checkpoint,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = sh
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        joinable = sh.join(hot, "shingle", "left_anti")
    a = _cpu_wide(joinable, "shingle").select(
        F.col("doc_id").alias("doc_a"), "shingle"
    )
    b = _cpu_wide(joinable, "shingle").select(
        F.col("doc_id").alias("doc_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("__nb"))
    sized = inter.join(sa, "doc_a").join(sb, "doc_b")
    a_small = (F.col("__na") < F.col("__nb")) | (
        (F.col("__na") == F.col("__nb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        sized.select(
            F.when(a_small, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_small"),
            F.when(a_small, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_big"),
            F.round(
                F.col("__ni") / F.least("__na", "__nb"), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    strategy: str = "join",
    checkpoint: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard **restricted to candidate pairs** — the scale
    path for near-dup verification.

    :func:`ngram_jaccard_pairs` builds the full inverted index; its cost
    is sum over shingles of (docs-per-shingle choose 2), which a
    stop-word shingle can blow up at corpus scale. Verifying only the
    candidates an LSH stage emitted bounds the work by the candidate
    list instead. This is the composition a 100 TB dedup actually runs
    (MinHash-LSH generate -> exact verify -> connected components).

    Two interchangeable strategies (identical output):

    - ``"join"`` (default): two equi-joins of the candidate list against
      exploded per-doc shingles, one count per pair. Cost is
      |candidates| x |shingles per doc| exploded ROWS — right when the
      generator is selective (MinHash-LSH emits ~true pairs only).
    - ``"sets"``: per-doc shingle-hash SETS (xxhash64 -> long, ~8B per
      shingle instead of the 3-word string) join the pair list once per
      side; the intersection is a per-row ``array_intersect`` — no
      pair x shingle explosion, so a WEAK generator emitting millions of
      incidental pairs (SimHash bands on a low-entropy corpus) verifies
      in O(|candidates| x set size) hash ops instead of an exploded
      join. 64-bit hashing cannot collide within a document's ~100
      shingles, so intersection sizes — and jaccard — are exact.

    Emits (doc_a, doc_b, jaccard) for candidates at or above ``threshold``.
    """
    # r16: verification only counts shingle-identity matches — hashed
    # kernel (the sets strategy always hashed; now the explode does).
    sh = exploded_shingle_hashes(df, text_col, id_col, n, distinct=True)
    p = pairs.select("doc_a", "doc_b")
    # The verify work is CPU-dense per candidate ROW (array_intersect /
    # per-pair counting) while the candidate list's BYTES are tiny —
    # spread it across the full shuffle width (see _cpu_wide).
    p = _cpu_wide(p)
    if strategy == "sets":
        # The per-doc set frame joins the pair list TWICE (doc_a and
        # doc_b sides); the join-strategy shingle frame feeds three
        # branches (sizes + both sides) — barrier-able via `checkpoint`,
        # lazy by default (see _barrier).
        sets = _barrier(
            sh.groupBy("doc_id").agg(
                # shingle IS the 64-bit identity now — no re-hash
                F.collect_set("shingle").alias("__set"),
                F.count(F.lit(1)).alias("n_shingles"),
            ),
            checkpoint,
        )
        out = (
            p.join(
                sets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("__set").alias("__sa"),
                    F.col("n_shingles").alias("size_a"),
                ),
                "doc_a",
            )
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("__set").alias("__sb"),
                    F.col("n_shingles").alias("size_b"),
                ),
                "doc_b",
            )
            .withColumn(
                "n_inter", F.size(F.array_intersect("__sa", "__sb"))
            )
        )
    elif strategy == "join":
        sh = _barrier(sh, checkpoint)
        sizes = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            p.join(a, "doc_a")               # (doc_a, doc_b, shingle of A)
            .join(b, ["doc_b", "shingle"])   # keep shingles B also has
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
        )
        sb = sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
        )
        out = inter.join(sa, "doc_a").join(sb, "doc_b")
    else:
        raise ValueError(f"unknown verify strategy {strategy!r}")
    return (
        out.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_bits(text: Column, bits: int = 32) -> Column:
    """SimHash bit vector: bit j votes by the j-th hex digit of each
    token's md5 (>= '8' → +1 else −1); sign of the folded sum sets the bit.

    Pure array expressions (``aggregate`` + ``zip_with``) — per-row
    compute, zero shuffles, and digit-for-digit reproducible in SQL.
    """
    toks = tokens(text)
    zero = F.array_repeat(F.lit(0), bits)

    def votes(t: Column) -> Column:
        h = F.md5(t)
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda j: F.when(
                F.substr(h, j, F.lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    summed = F.aggregate(
        toks, zero, lambda acc, t: F.zip_with(acc, votes(t), lambda x, y: x + y)
    )
    return F.transform(summed, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    scheme: str = "nibble",
) -> DataFrame:
    """Per-doc SimHash as a bit string (portable across engines — no
    signed-int pitfalls).

    Relational formulation: explode tokens, md5 once per token, then
    ``bits`` SUM aggregates of ±1 votes — fully codegen'd with map-side
    partial aggregation (the per-row ``aggregate``/``zip_with`` form in
    :func:`simhash_bits` is interpreted and ~10x slower; it remains for
    expression-level composition).

    Two vote schemes:

    - ``"nibble"`` (default, bits ≤ 32): bit j votes by md5 hex digit j
      >= '8' — the top bit of the nibble, so the per-digit string tests
      collapse into ``conv`` calls (8 hex chars → one 32-bit chunk) plus
      shift-and-mask integer ops — measured ~28% faster than
      substring+isin at sf0.1; digit-for-digit reproducible by the SQL
      oracle's hex-digit form.
    - ``"dense"`` (bits ≤ 128): bit j votes by RAW md5 bit j, using all
      128 hash bits — the corpus-scale fingerprint. Band-blocked
      candidate generation needs the band bucket count to track corpus
      size (a width-w band has 2^w buckets; N docs over 2^w buckets
      produce ~N²/2^(w+1) incidental same-bucket pairs PER BAND — at
      5k docs an 8-bit band already yields millions), and wider bands
      need more fingerprint bits to keep enough bands for recall.
    """
    if bits % 8 != 0:
        raise ValueError("bits must be a multiple of 8")
    if scheme == "nibble" and not 0 < bits <= 32:
        raise ValueError("nibble scheme supports bits in (0, 32]")
    if scheme == "dense" and not 0 < bits <= 128:
        raise ValueError("dense scheme supports bits in (0, 128]")
    if scheme not in ("nibble", "dense"):
        raise ValueError(f"unknown simhash scheme {scheme!r}")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc_id", F.md5("tok").alias("hh"))
    if scheme == "nibble":
        n_chunks = bits // 8  # 8 hex digits (nibble-top bits) per chunk
        vote_bit = lambda j: F.shiftright(  # noqa: E731
            F.col(f"c{j // 8}"), (7 - (j % 8)) * 4 + 3
        )
    else:
        n_chunks = (bits + 31) // 32  # 32 raw md5 bits per chunk
        vote_bit = lambda j: F.shiftright(  # noqa: E731
            F.col(f"c{j // 32}"), 31 - (j % 32)
        )
    chunks = toks.select(
        "doc_id",
        *[
            F.conv(F.substring("hh", 1 + 8 * c, 8), 16, 10)
            .cast("long")
            .alias(f"c{c}")
            for c in range(n_chunks)
        ],
    )
    sums = chunks.groupBy("doc_id").agg(
        *[
            F.sum(vote_bit(j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    bitstr = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(bits)
        ]
    )
    return sums.select("doc_id", bitstr.alias("simhash"))


# How long a connected-components round waits for its observed change
# count after its checkpoint job (the listener bus delivers it, normally
# within milliseconds); past it the round counts with one more job.
_OBSERVATION_WAIT_MS = 10_000


def dedup_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    on_nonconverged: str = "raise",
    checkpoint: str = "local",
) -> DataFrame:
    """Connected-components over near-dup candidate pairs → dedup groups.

    Given ``pairs`` (doc_a, doc_b) from any candidate generator
    (MinHash-LSH, SimHash bands, embedding buckets) and the universe of
    ``ids``, assigns every doc the **minimum doc id of its connected
    component** — the canonical representative to keep.

    Algorithm: iterative min-label propagation (the standard large-graph
    CC approach when a full Pregel framework is overkill): each round,
    every node adopts the smallest label among itself and its neighbors;
    converges in O(component diameter) rounds. Near-dup components are
    shallow (cliques/chains of copies), so a handful of rounds suffices;
    each round is two shuffles (join + groupBy-min) over the edge list —
    at 100 TB this is edges-sized, never corpus-squared. Early-exits when
    a round changes nothing.

    ``on_nonconverged``: labels are only correct once a round changes
    nothing; if ``max_iterations`` rounds pass without that fixpoint
    (component diameter > max_iterations), ``"raise"`` (default) raises
    rather than silently returning partial groups; ``"warn"`` logs and
    returns the partial labels (callers that only need *some* merge per
    round, e.g. incremental re-runs, may opt in).

    ``checkpoint``: per-round lineage cut. ``"local"`` (default) uses
    ``localCheckpoint`` — executor-memory blocks, fine on local mode and
    fastest, but an executor loss on a real cluster kills the job. On a
    1000-executor run set a reliable checkpoint dir first
    (``spark.sparkContext.setCheckpointDir("hdfs://…")``) and pass
    ``checkpoint="reliable"`` to write each round's labels (small: one
    (node,label) row per doc) to fault-tolerant storage.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be raise|warn, got {on_nonconverged!r}")
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be local|reliable, got {checkpoint!r}")
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionByName(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .distinct()
        # r16: pin the materialized layout to hash(dst) — the
        # distribution every round's (edges ⋈ labels on dst = node)
        # join needs. Checkpoint preserves the physical partitioning,
        # so the EDGE-sized side is never re-exchanged inside the loop;
        # each round moves only the node-sized label frame and the
        # neighbor-min aggregate (guide §2.4). The distinct's
        # (src, dst) layout satisfied nothing downstream.
        .repartition("dst")
    )
    # Materialize the edge list ONCE before iterating: every round joins
    # it twice, and without the cut each round re-executes the candidate
    # generator upstream (for MinHash pairs that's the whole
    # shingle→signature→band pipeline — measured 3-6x the loop's own
    # cost). Same mechanism as the per-round label checkpoint.
    if checkpoint == "reliable":
        edges = edges.checkpoint(eager=True)
    else:
        edges = edges.localCheckpoint(eager=True)
    labels = ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    jvm = pairs.sparkSession._jvm
    await_ = jvm.scala.concurrent.Await
    wait = jvm.scala.concurrent.duration.Duration.create(
        _OBSERVATION_WAIT_MS, "ms"
    )
    converged = False
    for _round in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        # r16: carry the change flag IN the label frame (a label only
        # changes when a strictly smaller neighbor label arrived) so
        # convergence detection is a scan of the just-checkpointed
        # blocks — the old form re-joined new labels against old labels
        # every round, a node-sized shuffle join whose answer the
        # update expression already knew.
        new_labels = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.coalesce(
                    F.col("nbr_label") < F.col("label"), F.lit(False)
                ).alias("__changed"),
            )
        )
        # r17: fold the convergence count INTO the checkpoint job via
        # an Observation — CollectMetrics is a pass-through node whose
        # aggregate resolves when the checkpoint action's job completes,
        # so each round runs ONE driver job instead of two (this loop's
        # wall is dominated by per-job driver latency, not task time —
        # the r16 "Not yet optimized" lead; AQE-off measured worse).
        obs = Observation(f"cc_changed_{_round}")
        observed = new_labels.observe(
            obs,
            F.coalesce(
                F.sum(F.col("__changed").cast("long")), F.lit(0)
            ).alias("n"),
        )
        # cut lineage each round (else the plan doubles per iteration)
        if checkpoint == "reliable":
            new_labels = observed.checkpoint(eager=True)
        else:
            new_labels = observed.localCheckpoint(eager=True)
        try:  # not obs.get, which would wait for good
            changed = await_.result(obs._jo.future(), wait).getLong(0)
        except Py4JJavaError as ex:
            name = ex.java_exception.getClass().getName()
            if name != "java.util.concurrent.TimeoutException":
                raise
            changed = new_labels.where("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"dedup_components did not reach a fixpoint in {max_iterations} "
            f"iterations (a component's diameter exceeds max_iterations); "
            f"labels would be partial"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("group_id")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int | None = None,
    scheme: str = "nibble",
    checkpoint: str | None = "local",
) -> DataFrame:
    """Near-dup candidates: docs agreeing on any SimHash band (Hamming-
    distance-bounded matches without a pairwise scan).

    ``max_hamming`` adds a FULL-fingerprint Hamming prefilter inside the
    band join's own stage (``bit_count(xor)`` of the fingerprints, which
    ride the band rows as longs): a width-w band has only 2^w buckets,
    so beyond ~2^(w/2) docs the join's incidental same-bucket pairs grow
    quadratically (observed: 6.4M pairs from 5k docs at w=8) — the
    prefilter kills them BEFORE the distinct's exchange, so only
    genuinely-close pairs (true near-dups measure Hamming ≤ 6 of 32 on
    this corpus) ever shuffle or reach the Jaccard verifier. Recall is
    unchanged for pairs within ``max_hamming``; pigeonhole guarantees a
    band collision for Hamming < ``bands`` regardless.

    At 100 TB also widen the fingerprint so buckets track corpus size
    (``scheme="dense"``, e.g. bits=128/bands=8 → 16-bit bands =
    65k buckets/band), exactly as :func:`~feast_java_old_spark.operators.
    similarity.suggest_bits` scales the sign-LSH tables.
    """
    if max_hamming is not None and bits > 63:
        raise ValueError("max_hamming prefilter needs bits <= 63 (one long)")
    width = bits // bands
    sh = simhash(df, text_col, id_col, bits, scheme=scheme)
    carry = []
    if max_hamming is not None:
        sh = sh.withColumn(
            "__fp", F.conv(F.col("simhash"), 2, 10).cast("long")
        )
        carry = ["__fp"]
    # The band self-join consumes the fingerprint frame TWICE; without a
    # materialization barrier each side re-runs the whole token-explode +
    # ``bits`` SUM aggregates (measured 2x the candidate stage's cost at
    # sf0.1). The frame is tiny — one (id, bitstring[, long]) row per doc
    # — so a checkpoint is the leak-free barrier.  ``checkpoint``:
    # "local" (default, executor-disk, no fault tolerance — fine on a
    # driver/local run), "reliable" (``sparkContext.setCheckpointDir``
    # storage, survives executor loss on a real cluster), or None to
    # keep the plan fully lazy (explain-only callers; the double
    # evaluation cost returns).
    sh = _barrier(sh, checkpoint)
    bandrows = sh.select(
        "doc_id",
        *carry,
        F.posexplode(
            F.array(
                *[F.substring("simhash", b * width + 1, width) for b in range(bands)]
            )
        ).alias("band", "chunk"),
    )
    l, r = bandrows.alias("l"), bandrows.alias("r")
    joined = l.join(
        r,
        on=[
            F.col("l.band") == F.col("r.band"),
            F.col("l.chunk") == F.col("r.chunk"),
            F.col("l.doc_id") < F.col("r.doc_id"),
        ],
    )
    if max_hamming is not None:
        joined = joined.where(
            F.bit_count(F.col("l.__fp").bitwiseXOR(F.col("r.__fp")))
            <= max_hamming
        )
    return (
        joined.select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def token_chunks(text: Column, chunk_tokens: int = 8) -> Column:
    """Non-overlapping ``chunk_tokens``-token segments of lowercased
    text, in order (the last chunk may be shorter). Pure codegen."""
    arr = tokens(text)
    n_chunks = F.ceil(F.size(arr) / F.lit(chunk_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(arr, i * chunk_tokens + 1, chunk_tokens)
        ),
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 8,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document chunk-level dedup (the C4/code-corpus passage rule):
    drop every non-overlapping ``chunk_tokens``-token chunk that occurs in
    more than ``max_doc_freq`` documents, and reassemble each document
    from its surviving chunks in order.

    Returns (id, text, n_chunks, n_removed); a document whose every chunk
    is corpus-duplicated comes back with empty text (boilerplate and
    exact dups vanish, partially-copied docs keep their novel passages).

    Plan shape: chunk explode → global per-chunk doc-frequency (two-phase
    hash aggregate with map-side combine; only chunk+id rows shuffle,
    sized by the corpus token count) → equi-join frequencies back (both
    sides chunk-hash partitioned by the aggregate) → ONE doc-keyed
    aggregate producing reassembled text (``collect_list`` of a
    ``when(...)`` struct — nulls for dropped chunks are skipped), total
    and removed counts together. The input subtree is evaluated twice
    (frequency aggregate + join side), never a third time — callers
    composing an expensive upstream (see
    ``pipeline.build_training_corpus``) persist it.
    """
    ch = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_chunks(F.col(text_col), chunk_tokens)).alias(
            "idx", "chunk"
        ),
    )
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("__df")
    )
    # One groupBy with conditional aggregates: collect_list skips the
    # NULLs that when() produces for dropped chunks, so kept-text
    # reassembly, total count, and removed count all come out of a single
    # doc-keyed aggregate — no separate totals branch, no totals⋈kept
    # join, and the (possibly expensive) input subtree is evaluated for
    # the freq aggregate and the join, never a third time.
    merged = ch.join(freq, on="chunk").groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__df") <= max_doc_freq,
                            F.struct("idx", "chunk"),
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(
            F.when(F.col("__df") > max_doc_freq, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_removed"),
    )
    return merged.select(
        F.col("doc_id").alias(id_col),
        F.col("text").alias(text_col),
        "n_chunks",
        "n_removed",
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document duplicated-line removal: :func:`chunk_dedup` with
    newline segments instead of token chunks (case-preserving — lines are
    matched verbatim). Reassembles with ``\\n``."""
    ch = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "chunk"),
    )
    freq = ch.groupBy("chunk").agg(F.countDistinct("doc_id").alias("__df"))
    merged = ch.join(freq, on="chunk").groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__df") <= max_doc_freq,
                            F.struct("idx", "chunk"),
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("__df") > max_doc_freq, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_removed"),
    )
    return merged.select(
        F.col("doc_id").alias(id_col),
        F.col("text").alias(text_col),
        "n_lines",
        "n_removed",
    )


def dedup_keep_best(
    df: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection over dedup groups: instead of
    the min-id representative, keep each connected component's
    highest-``score_col`` member (ties to the lower id) — the policy a
    production corpus actually wants (drop the truncated/boilerplated
    copy, keep the clean one).

    One argmax aggregate keyed by the group id — ``max(struct(score,
    -id))`` with map-side partial combine; the shuffle carries one
    (group, best) row per map partition, never documents. Returns the
    kept rows of ``df`` (semi-join on the winner ids).
    """
    scored = components.join(
        df.select(F.col(id_col), F.col(score_col).alias("__s")), on=id_col
    )
    winners = (
        scored.groupBy("group_id")
        .agg(
            F.max(
                F.struct(F.col("__s").alias("s"), (-F.col(id_col)).alias("n"))
            ).alias("__top")
        )
        .select((-F.col("__top.n")).alias(id_col))
    )
    return df.join(winners, on=id_col, how="left_semi")



def gram_hash_at(toks, pos, k: int):
    """xxhash64 of the ``k``-token gram of ``toks`` starting at ``pos``
    (0-based) — THE ExactSubstr gram identity, shared by span discovery,
    the batch apply, and the streaming apply twin so the three can never
    silently diverge on gram hashing (codegen slice + concat_ws; grams
    travel as 8-byte longs, text never shuffles)."""
    return F.xxhash64(F.concat_ws(" ", F.slice(toks, pos + 1, k)))


def _gram_seeds(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_count: int,
    count_distinct_docs: bool,
):
    """Shared ExactSubstr seed pipeline (the single source of truth for
    :func:`duplicated_spans`, :func:`substring_dedup`, and the
    streaming apply twin's corpus pass): tokenize — NULL text is
    treated as empty text so every input document survives to the
    output contract — explode k-gram start positions, hash each gram
    (xxhash64 of the space-joined slice; codegen, grams travel as
    LONGs), aggregate gram frequency, and keep seeds whose gram meets
    ``min_count``.  Returns ``(base, seeds)``: ``base`` is
    ``(doc_id, toks, n)`` for reassembly, ``seeds`` is frequent-gram
    ``(doc_id, pos)`` rows.
    """
    arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(
        F.col(id_col).alias("doc_id"), arr.alias("toks")
    ).withColumn("n", F.size("toks"))
    g = base.where(F.col("n") >= k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - k)).alias("pos"),
        "toks",
    )
    g = g.select(
        "doc_id",
        "pos",
        gram_hash_at(F.col("toks"), F.col("pos"), k).alias("gh"),
    )
    cnt = (
        F.countDistinct("doc_id") if count_distinct_docs else F.count(F.lit(1))
    )
    freq = g.groupBy("gh").agg(cnt.alias("__cnt"))
    seeds = g.join(freq.where(F.col("__cnt") >= min_count), on="gh").select(
        "doc_id", "pos"
    )
    return base, seeds


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    count_distinct_docs: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans — the ExactSubstr dedup modality
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): a token position is *covered* when some
    ``k``-token gram starting at-or-spanning it occurs at least
    ``min_count`` times in the corpus (including repeats inside one
    document, matching the suffix-array formulation); the operator
    returns each document's maximal runs of covered positions.

    Returns (id_col, span_start, span_end, span_tokens, n_seeds), one
    row per maximal span, positions 0-based token offsets into
    ``tokens(text)``; ``n_seeds`` counts the duplicated grams merged
    into the span. ``count_distinct_docs=True`` switches the seed rule
    to cross-document frequency only (the C4/passage variant).

    Plan, sized for the 100 TB case: one explode to (doc, pos) rows —
    the same corpus-token-count magnitude as every inverted-index
    operator here — with the gram built by codegen ``slice``+
    ``concat_ws`` over the pre-split token array (never an interpreted
    ``transform(sequence(...))`` lambda); grams travel as ``xxhash64``
    longs, so the frequency shuffle carries 8-byte keys, not text (at
    10^13 corpus grams the 64-bit birthday bound expects ~10^6 colliding
    pairs — an over-removal rate of 10^-7, irrelevant for dedup; the
    sf-scale oracle is collision-free). Frequency is a two-phase hash
    aggregate with map-side combine; seeds come back via one equi-join
    on the hash (both sides already hash-partitioned by the aggregate);
    span merge is the gap-and-islands window per document — a single
    doc-keyed sort, no self-join, no quadratic step anywhere. Unlike the
    paper's monolithic suffix array (which needs the corpus in one
    address space), every stage is a shuffle-partitioned scan.
    """
    _, seed_pos = _gram_seeds(
        df, text_col, id_col, k, min_count, count_distinct_docs
    )
    seeds = seed_pos.select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("end")
    )
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = seeds.select(
        "doc_id",
        "pos",
        "end",
        F.when(
            F.max("end").over(w_prev).isNull()
            | (F.col("pos") > F.max("end").over(w_prev) + 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        "doc_id", "pos", "end", F.sum("brk").over(w_run).alias("isl")
    )
    return islands.groupBy("doc_id", "isl").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.max("end").cast("long").alias("span_end"),
        (F.max("end") - F.min("pos") + 1).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_seeds"),
    ).select(
        F.col("doc_id").alias(id_col),
        "span_start",
        "span_end",
        "span_tokens",
        "n_seeds",
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    count_distinct_docs: bool = False,
) -> DataFrame:
    """Apply ExactSubstr dedup: delete every token position covered by a
    corpus-duplicated ``k``-gram (see :func:`duplicated_spans`) and
    reassemble each document from its surviving tokens in order —
    Lee et al.'s deletion policy, which keeps the novel remainder of a
    partially-copied document instead of dropping it whole.

    Returns (id_col, text_col, n_tokens, n_removed); every document of
    the input appears in the output (a fully-duplicated one with empty
    text). Coverage positions come from exploding each seed gram into
    its ``k`` offsets (a bounded constant-factor amplification) and
    deduplicating (doc, pos) — an equi-join against the token rows, so
    the whole apply is explode → join → one doc-keyed aggregate, the
    :func:`chunk_dedup` reassembly shape (``collect_list`` of a
    ``when(...)`` struct skips removed positions; text never shuffles
    except inside that final aggregate).
    """
    base, seed_pos = _gram_seeds(
        df, text_col, id_col, k, min_count, count_distinct_docs
    )
    covered = (
        seed_pos
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + k - 1)
            ).alias("cpos"),
        )
        .distinct()
    )
    tokpos = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    joined = tokpos.join(
        covered,
        (tokpos["doc_id"] == covered["doc_id"])
        & (tokpos["pos"] == covered["cpos"]),
        "left",
    ).select(tokpos["doc_id"], "pos", "tok", "cpos")
    out = joined.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("cpos").isNull(),
                            F.struct("pos", "tok"),
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("__text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(
            F.when(F.col("cpos").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_removed"),
    )
    return out.select(
        F.col("doc_id").alias(id_col),
        F.col("__text").alias(text_col),
        "n_tokens",
        "n_removed",
    )
