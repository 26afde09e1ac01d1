"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

BASELINE.json §2.6 capability additions (beyond the reference's surface).
Pattern sources are public: Broder's MinHash resemblance estimation, the
classic LSH banding construction, and Charikar's SimHash — as summarized in
PAPERS.md / standard literature.

Scale design:

* ``exact_dedup`` — hash-groupBy on a fingerprint; partial aggregation
  map-side, one shuffle keyed by the digest (never the text).
* ``jaccard_similar_pairs`` — explode shingles → self-join on shingle →
  count — the exact-but-quadratic-in-collisions baseline; usable for
  verification and small corpora.
* ``minhash_*`` — the 100 TB path: fixed-size signatures (one row per doc),
  LSH banding so only same-bucket docs meet in the join, then exact
  verification of candidates only.  All hashing is ``xxhash64`` JVM-side;
  no UDFs anywhere.
* ``simhash_signatures`` — 64-bit fingerprint per doc via bit-majority of
  token hashes; hamming-close signatures ≈ near-duplicate docs.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.functions.text import shingles, tokens
from cdc_data_lake_pyspark_spark.store import (
    compact_store,
    recover_halfswap,
    tag_writer,
    without_writer,
)


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Exact duplicate groups: ``(fingerprint, keeper_id, n_docs)``.

    The keeper is the minimum id per group (deterministic).  Grouping key
    is md5 of (optionally lower/trimmed) text, so the shuffle carries
    32-byte digests, not documents.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.trim(text))
    return (
        docs.select(F.md5(text).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """One row per (doc, distinct shingle): ``(_id, _s)``.

    The shingle pipeline (split → slice → array_distinct) is a higher-order
    expression chain Spark evaluates *interpreted* (no codegen, no
    subexpression sharing), so it must appear exactly once — inside the
    Generate, evaluated once per document.  Anything derived per-doc (e.g.
    the shingle count) is re-aggregated from the exploded rows instead of
    recomputing the array expression above the explode, which would run the
    whole pipeline once per exploded row (~|shingles|× redundant work).
    """
    sh = shingles(F.col(text_col), k)
    return docs.select(F.col(id_col).alias("_id"), F.explode(sh).alias("_s"))


def _exploded_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Staged ``(_id, _h)`` frame: ``xxhash64`` of each distinct
    k-shingle, hashed MAP-SIDE inside the same projection as the explode
    so the staged blocks store 8-byte longs instead of k-gram strings
    (~6× smaller checkpoint, and every downstream shuffle/sort/window
    keys on longs).  The string shingle never leaves the Generate.

    Collision semantics are the ones the verify step already documents:
    two distinct shingles colliding at 64 bits merge into one set
    element (P ≈ V²/2⁶⁵ vocabulary-wide) — the exact-Jaccard caveat all
    the hashed operators share."""
    ex = _exploded_shingles(docs, id_col, text_col, k)
    return _stage(ex.select("_id", F.xxhash64("_s").alias("_h")))


def _stage(ex: DataFrame) -> DataFrame:
    """Stage a multi-consumer working set with an EAGER local checkpoint:
    it materializes once HERE, every downstream consumer (counts, join
    sides, verification) reads the stored blocks instead of re-running
    the pipeline behind it, and the blocks are released when the
    DataFrame is garbage-collected (no explicit unpersist).  Tradeoff
    (same as any checkpoint): executor loss forfeits the blocks and
    fails the job instead of recomputing — acceptable for batch dedup
    jobs, which simply rerun.

    EAGER, not lazy (r14): with ``eager=False`` the checkpoint runs at
    the END of whichever job first consumes the frame — and when that
    consumer is an AQE broadcast-exchange thread, its job-end
    ``doCheckpoint`` (which takes the GLOBAL ``RDDCheckpointData``
    lock, then the RDD's monitor) can deadlock against the DAG
    scheduler's ``getCacheLocs`` (which takes the RDD's monitor via
    ``RDD.partitions``, then wants the global lock) on a concurrently
    scheduled job over the same staged RDD.  Observed live in an r14
    bench run: the JVM wedged at load 0.05 with ``broadcast-exchange``
    holding the global lock and ``dag-scheduler-event-loop`` holding
    the RDD monitor, each waiting on the other — a hang-forever, which
    at 100 TB is strictly worse than the serialization eager costs.
    Eager closes the window: the checkpoint completes under one
    synchronous job before any consumer (or its broadcast threads) can
    race it; the same policy applies at every staging site in the
    package (no ``eager=False`` remains).
    """
    return ex.localCheckpoint(eager=True)


def _shingle_counts(ex: DataFrame) -> DataFrame:
    """Per-doc distinct-shingle count ``(_id, _n)`` — tiny (one row per
    doc), map-side-combined, broadcast back onto pair aggregates."""
    return ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))


def _join_set_sizes(pairs: DataFrame, counts: DataFrame) -> DataFrame:
    """Attach ``_na``/``_nb`` set sizes to ``(a_id, b_id, ...)`` pairs.

    Both lookups join against the SAME broadcast frame and rename after
    the join: identical broadcast subplans canonicalize equal, so Spark's
    ReuseExchange computes the counts aggregation once (renaming before
    broadcasting would make the plans differ and double the evaluation —
    the shingle pipeline behind it is the expensive part).
    """
    b = F.broadcast(counts)
    return (
        pairs.join(b, F.col("a_id") == F.col("_id"))
        .drop("_id")
        .withColumnRenamed("_n", "_na")
        .join(b, F.col("b_id") == F.col("_id"))
        .drop("_id")
        .withColumnRenamed("_n", "_nb")
    )


def jaccard_similar_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """N-gram Jaccard pairs ≥ threshold: ``(a_id, b_id, jaccard)``.

    "Exact" up to shingle-hash collisions: the intersection is counted
    over ``xxhash64(shingle)``, so two DISTINCT shingles colliding at 64
    bits could inflate one pair's |∩| by 1 (expected colliding shingle
    pairs ≈ V²/2⁶⁵ — ~3e-4 at 100M distinct shingles; a single +1 almost
    never crosses the threshold).  Downstream tests and oracles treat
    this as the exact baseline; this paragraph is the documented caveat.

    Self-equi-join on the shingle (not a cross join): only docs sharing at
    least one shingle ever meet.  |∩| via count, |∪| = na + nb − |∩|.
    Set sizes join in afterwards from a per-doc count frame (broadcast) —
    never recomputed per exploded row.

    The self-join is hinted shuffle-hash: both sides then need the same
    ``hashpartitioning(_s)`` exchange over the same child, so ReuseExchange
    evaluates the (interpreted, explode-heavy) shingle pipeline ONCE for
    both sides — a broadcast join would build and evaluate them separately.
    This is also the 100 TB shape: the corpus shuffles by shingle instead
    of broadcasting an exploded corpus copy to every executor.
    """
    # self-join on the xxhash64 of the shingle, not the string: the
    # corpus-wide hashpartitioning exchange then carries 8-byte longs
    # instead of k-gram strings (~6× fewer bytes at k=3).  A vocabulary
    # collision (two distinct shingles, equal hash) could add 1 to one
    # pair's intersection — expected colliding shingle pairs V²/2⁶⁵
    # (~3e-4 at 100M distinct shingles), and a single +1 almost never
    # crosses the threshold.  r9: the hash is now computed INSIDE the
    # staged frame (one shared checkpoint of longs), so both join sides
    # and the counts frame read the same 8-byte blocks.
    exh = _exploded_hashes(docs, id_col, text_col, k)
    counts = _shingle_counts(exh)
    a = exh.alias("a").hint("shuffle_hash")
    b = exh.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    pairs = (
        _join_set_sizes(pairs, counts)
        .withColumn(
            "jaccard",
            F.col("_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    return pairs


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: corpus docs sharing ≥
    ``min_hits`` distinct k-token shingles with any benchmark item —
    ``(doc_id, bench_id, n_shared)``.

    The decontamination step of a training pipeline: before training,
    drop (or flag) corpus documents that textually overlap an eval set.
    Long shingles (k=8 tokens ≈ the n-gram dedup window used in published
    dataset pipelines) make incidental collisions rare, so the shingle
    equi-join degenerates to ~|true overlaps|.

    Scale shape: the CORPUS shuffles by shingle once; the benchmark side
    (eval sets are ≤ millions of rows) hash-joins in — at real scale its
    exploded shingles broadcast, so the corpus never moves twice.  No
    thresholds on similarity: any shared long shingle is evidence.
    """
    # join on xxhash64 of the k-token shingle, hashed map-side under the
    # Generate: the corpus-wide exchange carries 8-byte longs instead of
    # ~8-token strings (k=8 shingles are the LONGEST strings any dedup
    # operator ships).  A cross-vocabulary collision could add one
    # phantom shared shingle to one (doc, bench) pair — V²/2⁶⁵, the same
    # documented caveat as the hashed Jaccard intersection — and
    # ``min_hits=1`` contamination needs a full-hash match, not a band.
    corpus_ex = _exploded_shingles(docs, id_col, text_col, k).select(
        "_id", F.xxhash64("_s").alias("_h")
    )
    bench_ex = _exploded_shingles(
        benchmark, bench_id_col, bench_text_col, k
    ).select("_id", F.xxhash64("_s").alias("_h"))
    return (
        corpus_ex.alias("c")
        .join(bench_ex.alias("b"), F.col("c._h") == F.col("b._h"))
        .groupBy(
            F.col("c._id").alias(id_col), F.col("b._id").alias("bench_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_hits)
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per doc: ``(doc_id, sig: array<bigint>)``.

    Signature i = min over shingles of ``xxhash64(i, shingle)``.  Computed
    as explode → hash-aggregate with ``num_hashes`` MIN columns: the shingle
    pipeline runs once per doc (inside the Generate) and the per-component
    mins are codegen'd partial aggregates — map-side combine collapses each
    doc to one ``num_hashes``-long vector before any shuffle.  (The naive
    ``array_min(transform(sh, ...))`` per component would re-evaluate the
    interpreted shingle expression ``num_hashes`` times per row.)
    E[Jaccard] equals the fraction of agreeing components (Broder).
    """
    ex = _exploded_shingles(docs, id_col, text_col, k)
    return _signatures_from_ex(ex, num_hashes)


def _signatures_from_ex(ex: DataFrame, num_hashes: int) -> DataFrame:
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("_s"))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        ex.groupBy("_id")
        .agg(*mins)
        .select(
            F.col("_id").alias("doc_id"),
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def _banded(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """``(doc_id, band, bucket)`` — one row per (doc, band), where bucket
    is the hash of the band's ``rows_per_band`` signature components."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    star_bucket_cap: Optional[int] = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become a
    candidate pair ``(a_id, b_id)``.

    Shuffle key is ``(band_index, band_hash)`` — at 100 TB each bucket is
    tiny, so the pair-join materializes only genuine collision groups
    instead of the full cross product.

    ``star_bucket_cap`` bounds the HOT-FAMILY pathology measured in
    `SCALE.md` §8 (`minhash_lsh_salted_families`): a corpus whose
    duplicate-cluster size grows with the corpus makes within-bucket
    candidates quadratic no matter how the banding is tuned.  With a cap,
    buckets of ≤ cap members still emit every pair (exact semantics),
    while larger buckets emit only STAR edges — each member against the
    bucket's minimum id — so a family of n costs n−1 verifications
    instead of n(n−2)/2.  Downstream connected components recover the
    same clusters whenever each member's similarity to the family
    representative clears the threshold (true for genuine duplicate
    families; a near-threshold CHAIN through a hot bucket may split —
    the documented recall trade of representative-based dedup, cf. the
    cluster-then-verify mitigation sketched in SCALE.md)."""
    banded = _banded(signatures, bands, rows_per_band)
    if star_bucket_cap is None:
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .distinct()
        )
    # Size-capped hybrid.  One aggregation per (band, bucket) yields the
    # member count and the representative; both downstream joins reuse the
    # same (band, bucket) partitioning.  The banded frame is staged so the
    # signature pipeline evaluates once for all three consumers.
    banded = _stage(banded)
    stats = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep")
    )
    small_keys = stats.filter(F.col("_n") <= star_bucket_cap).select("band", "bucket")
    in_small = banded.join(small_keys, ["band", "bucket"], "left_semi")
    a = in_small.alias("a")
    b = in_small.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    # _rep = min(doc_id) over the bucket, so a_id < b_id holds by
    # construction on the star side too.
    star = (
        banded.join(stats.filter(F.col("_n") > star_bucket_cap), ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("a_id"), F.col("doc_id").alias("b_id"))
    )
    return pairs.unionByName(star).distinct()


#: Default hot-bucket bound for :func:`minhash_near_duplicates`.  Healthy
#: corpora keep LSH collision groups far below this (a bucket's members
#: all agree on a full band of minhashes), so the default is a NO-OP on
#: non-hot data (parity pinned in tests/test_phase2.py) while bounding
#: the adversarial hot-family pathology measured in SCALE_MEASURED.json
#: → scale100.minhash_lsh_salted_{families,star}.
DEFAULT_STAR_BUCKET_CAP = 64


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    star_bucket_cap: Optional[int] | str = "auto",
) -> DataFrame:
    """The full scale path: MinHash → LSH candidates → EXACT Jaccard
    verification of candidates only.  Returns ``(a_id, b_id, jaccard)``.

    Exact verification makes the output precision-1; LSH only affects
    recall (tunable via bands/rows: threshold ≈ (1/b)^(1/r)).
    ``star_bucket_cap`` additionally bounds hot-bucket candidates to star
    edges (see :func:`lsh_candidate_pairs`) — every emitted pair still
    carries its true Jaccard, but pairs whose only collisions happen in
    over-cap buckets are represented through the bucket representative.
    The default ``"auto"`` applies :data:`DEFAULT_STAR_BUCKET_CAP` (a
    no-op below 64-member buckets — exact pair semantics on healthy
    corpora, bounded verify traffic on hot-family ones); pass ``None``
    for the unconditional all-pairs semantics.

    The exploded shingle set is STAGED (eager local checkpoint) and shared
    by the signature aggregation and the verification joins — one
    evaluation of the shingle pipeline for the whole operator."""
    if star_bucket_cap == "auto":
        star_bucket_cap = DEFAULT_STAR_BUCKET_CAP
    ex = _stage(_exploded_shingles(docs, id_col, text_col, k))
    sigs = _signatures_from_ex(ex, num_hashes)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, star_bucket_cap)
    return _verify_candidate_pairs(cand, ex, threshold)


def _verify_candidate_pairs(
    cand: DataFrame, ex: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate ``(a_id, b_id)`` pairs only, computed
    over per-doc HASHED shingle-set arrays instead of exploded shingle
    strings.

    The shingle frame is first PRUNED to docs that appear in any candidate
    pair (semi-join; AQE broadcasts the distinct candidate-id frame at
    runtime whenever duplicates are rare — the common case), then each
    surviving doc's distinct shingles are hashed to ``xxhash64`` longs
    MAP-SIDE and gathered into one array row per doc.  The pair join then
    moves TWO 8-byte-element arrays per candidate instead of
    ``|a|+|b|`` exploded string rows (~6× fewer bytes and ~two orders of
    magnitude fewer shuffle rows at 3-gram shingle sizes), and
    ``size(array_intersect(...))`` computes the intersection inside
    whole-stage codegen with no post-join aggregation exchange.  Set
    sizes fall out of the same arrays, so no separate counts frame joins
    in.

    Exactness: equal to string-shingle Jaccard unless xxhash64 collides
    WITHIN one candidate pair's shingle union — P ≈ (|a|+|b|)²/2⁶⁵ per
    pair (~4e-15 at 400 shingles), vocabulary-wide collisions outside a
    pair's two sets cannot affect its intersection count.  The DuckDB
    oracles replay raw-string Jaccard and stay hash-identical.
    """
    cand = _stage(cand)
    cand_ids = (
        cand.select(F.explode(F.array("a_id", "b_id")).alias("_id")).distinct()
    )
    # accept either the string frame (_id, _s) — minhash/simhash callers,
    # whose signatures need the strings anyway — or the pre-hashed frame
    # (_id, _h) the r9 plain path stages (longs, hashed map-side before
    # the checkpoint; no re-hash here)
    helem = F.col("_h") if "_h" in ex.columns else F.xxhash64("_s")
    sets = (
        ex.join(cand_ids, "_id", "left_semi")
        .groupBy("_id")
        .agg(F.collect_list(helem).alias("_hs"))
    )
    return _verify_pairs_with_sets(cand, sets, threshold)


def _verify_pairs_with_sets(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard filter of ``(a_id, b_id)`` candidates against
    prebuilt per-doc hash-set arrays ``(_id, _hs)`` — the shared tail of
    every candidates-then-verify operator.  Two 8-byte-element arrays
    move per candidate, and ``size(array_intersect(...))`` computes the
    intersection inside whole-stage codegen with no post-join
    aggregation exchange; set sizes fall out of the same arrays."""
    a = sets.alias("a").hint("shuffle_hash")
    b = sets.alias("b").hint("shuffle_hash")
    return (
        cand.join(a, cand.a_id == F.col("a._id"))
        .join(b, cand.b_id == F.col("b._id"))
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a._hs", "b._hs")).alias("_common"),
            F.size("a._hs").alias("_na"),
            F.size("b._hs").alias("_nb"),
        )
        .withColumn(
            "jaccard",
            F.col("_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_near_dup_clusters_cv(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    star_bucket_cap: Optional[int] | str = "auto",
    repair_rounds: int = 3,
) -> DataFrame:
    """Cluster-then-verify near-duplicate clustering for hot duplicate
    families (SCALE.md §8's mitigation for the salted-families axis;
    VERDICT r6 next-round #2).  Returns ``(doc_id, cluster_id)`` — the
    contract of ``connected_components`` over verified pairs.

    The star-capped pair path (:func:`minhash_near_duplicates` +
    ``star_bucket_cap``) bounds CANDIDATES per hot (band, bucket) to n−1
    star edges, but each band elects its own bucket representative, so a
    hot family still ships ~``bands`` × n shingle sets through exact
    verification (the measured 16.7 GB residual in
    ``scale100.minhash_lsh_salted_star``), and a near-threshold CHAIN
    splits whenever members clear the threshold only against their chain
    neighbors, never the representative.  This operator verifies at the
    CLUSTER level instead:

    1. band + bucket-count exactly as the capped path, keeping small
       buckets' all-pairs candidates (exact semantics below the cap);
    2. over-cap buckets' star edges are reduced to a spanning FOREST
       before verification — each hot-bucket member keeps ONE edge, to
       the minimum representative over all its over-cap buckets — so
       exact-verify traffic is ∝ #hot docs ONCE, not per band;
    3. connected components over the UNVERIFIED candidate graph define
       provisional clusters — the scope within which membership is even
       possible (LSH collision ⇒ candidate ⇒ same provisional cluster);
    4. repair rounds: within each provisional cluster, the current
       verified subclusters (singletons included) are represented by
       their minimum member, CONSECUTIVE representatives in id order are
       exactly verified (≤ s−1 pairs per cluster per round, never s²/2),
       and passing pairs merge their subclusters.  A chain the star path
       split into singletons re-links through its consecutive
       representatives; a round that attempts no new pair terminates the
       loop early.

    Verified-edge precision stays 1 (every merge is backed by an exact
    Jaccard ≥ ``threshold`` pair); recall is COMPARABLE to the
    star-capped path on the same banding, not provably ≥ it: the
    spanning-forest reduction verifies one edge per hot-bucket member
    (to the MINIMUM representative over its over-cap buckets) where the
    star path verifies every per-band representative edge, so a member
    that clears the threshold only against some non-minimum band
    representative relies on a repair round attempting that pair.
    Conversely the repair rounds recover chains the star path provably
    splits (tests/test_phase2.py pins that case).  Repair is
    representative-based: a merge that requires a cross pair between two
    NON-minimum members of ≥2-member subclusters can still be missed —
    the documented residual trade.  Driver loop: ``repair_rounds`` × (one CC + one
    bounded verify), each round one small count — the iterative pattern
    of ``operators/clusters.py``."""
    from cdc_data_lake_pyspark_spark.operators.clusters import (
        connected_components,
    )

    if star_bucket_cap == "auto":
        star_bucket_cap = DEFAULT_STAR_BUCKET_CAP
    if star_bucket_cap is None:
        raise ValueError(
            "cluster-then-verify requires a star_bucket_cap (the uncapped "
            "path is minhash_near_duplicates(star_bucket_cap=None))"
        )
    ex = _stage(_exploded_shingles(docs, id_col, text_col, k))
    sigs = _signatures_from_ex(ex, num_hashes)
    banded = _stage(_banded(sigs, bands, rows_per_band))
    stats = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep")
    )
    small_keys = stats.filter(F.col("_n") <= star_bucket_cap).select(
        "band", "bucket"
    )
    in_small = banded.join(small_keys, ["band", "bucket"], "left_semi")
    a = in_small.alias("a")
    b = in_small.alias("b")
    small_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    star_full = (
        banded.join(
            stats.filter(F.col("_n") > star_bucket_cap), ["band", "bucket"]
        )
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("a_id"), F.col("doc_id").alias("b_id"))
        .distinct()
    )
    star_full = _stage(star_full)
    # spanning-forest reduction: ONE verify edge per hot-bucket member
    star_tree = star_full.groupBy("b_id").agg(F.min("a_id").alias("a_id"))
    provisional = _stage(
        connected_components(small_pairs.unionByName(star_full))
    )

    # distinct is REQUIRED, not cosmetic: a pair that is both a
    # small-bucket candidate and a hot-bucket tree edge would otherwise
    # appear twice in the verify join and double its intersection count
    # (na + nb − 2·common can even hit zero for identical docs)
    verify0 = _stage(
        small_pairs.unionByName(star_tree.select("a_id", "b_id")).distinct()
    )
    passing = _stage(
        _verify_candidate_pairs(verify0, ex, threshold).select("a_id", "b_id")
    )
    attempted = verify0

    for _ in range(max(repair_rounds, 0)):
        vcc = connected_components(passing)
        membership = (
            provisional.withColumnRenamed("cluster_id", "_pcomp")
            .join(vcc.withColumnRenamed("cluster_id", "_vlabel"), "node", "left")
            .select(
                "node",
                "_pcomp",
                F.coalesce("_vlabel", F.col("node")).alias("_vlabel"),
            )
        )
        # one row per verified subcluster: its min member (= _vlabel, the
        # representative) and its max member (the id-order boundary)
        subs = membership.groupBy("_pcomp", "_vlabel").agg(
            F.min("node").alias("_lo"), F.max("node").alias("_hi")
        )
        w = Window.partitionBy("_pcomp").orderBy("_lo")
        ranked = subs.withColumn("_rn", F.row_number().over(w))
        nxt = ranked.select(
            "_pcomp",
            F.col("_lo").alias("_r_lo"),
            (F.col("_rn") - 1).alias("_rn"),
        )
        # per adjacent subcluster pair in id order, try BOTH the boundary
        # pair (left's max vs right's min — the chain link when ids track
        # similarity order) and the representative pair (min vs min)
        adj = ranked.join(nxt, ["_pcomp", "_rn"])
        consecutive = (
            adj.select(F.col("_hi").alias("_x"), F.col("_r_lo").alias("_y"))
            .unionByName(
                adj.select(
                    F.col("_lo").alias("_x"), F.col("_r_lo").alias("_y")
                )
            )
            .select(
                F.least("_x", "_y").alias("a_id"),
                F.greatest("_x", "_y").alias("b_id"),
            )
            .distinct()
        )
        new_pairs = _stage(
            consecutive.join(attempted, ["a_id", "b_id"], "left_anti")
        )
        if new_pairs.limit(1).count() == 0:
            # converged: this round's vcc IS connected_components over
            # the final passing set (nothing was added since it ran), so
            # return it instead of recomputing a fifth CC from scratch
            return vcc.select(F.col("node").alias(id_col), "cluster_id")
        newly = _verify_candidate_pairs(new_pairs, ex, threshold).select(
            "a_id", "b_id"
        )
        passing = _stage(passing.unionByName(newly))
        attempted = _stage(attempted.unionByName(new_pairs))

    # rounds exhausted with the last round still adding pairs — one final
    # CC folds those in
    return connected_components(passing).select(
        F.col("node").alias(id_col), "cluster_id"
    )


def paragraph_dedup_global(
    docs: DataFrame,
    max_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style CORPUS-WIDE paragraph dedup (Wenzek et al. 2020 §4.1,
    "deduplicating paragraphs across shards"): drop every paragraph that
    appears in more than ``max_df`` distinct documents, then reassemble
    each document's surviving paragraphs in their original order.
    Returns ``(id, text)``; documents whose every paragraph was dropped
    disappear (they were pure boilerplate).

    This is the boilerplate-removal granularity BETWEEN whole-document
    exact dedup (:func:`exact_dedup`) and duplicated-span surgery
    (``substring_window_dedup``): repeated headers/footers/cookie
    banners vanish even when every page's full text is unique.

    ``sep`` is a LITERAL separator string (quoted with ``\\Q…\\E``
    before reaching Spark's regex-based ``split`` — ADVICE r9: a raw
    ``"."`` or ``"||"`` would otherwise split on every character), the
    same semantics as the DuckDB oracle's ``string_split``.

    Scale shape: one ``posexplode`` (map-only), one map-side-combined
    ``count(DISTINCT doc)`` per paragraph digest (the COUNTING exchange
    carries 32-byte md5 digests, never paragraph text), one digest-keyed
    join back (reuses the aggregate's partitioning), one hash-aggregate
    on the doc id to rebuild the text (per-doc ``array_sort`` on
    position, no corpus-wide sort) — the same two-full-exchange budget
    as the prefix-join's array builder.  The join-back and the rebuild
    aggregate DO shuffle the surviving paragraph text (inherent to
    reassembly; measured small next to the counting side —
    SCALE_MEASURED.json → textpipe).  Paragraph counting uses md5, so a
    cross-vocabulary collision could delete one innocent paragraph
    corpus-wide — P ≈ V²/2¹²⁸, far below the xxhash64 caveats the other
    dedup operators already document."""
    # java-regex literal quoting; an embedded \E ends the quote, so it
    # is re-opened around an escaped one
    sep_re = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    parts = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("_pos", "_para"),
    ).select("_id", "_pos", "_para", F.md5("_para").alias("_d"))
    dfc = parts.groupBy("_d").agg(
        F.countDistinct("_id").alias("_df")
    )
    kept = parts.join(dfc, "_d").filter(F.col("_df") <= F.lit(max_df))
    return (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                    lambda x: x["_para"],
                ),
                sep,
            ).alias(text_col)
        )
        .withColumnRenamed("_id", id_col)
    )


def _prefix_doc_arrays(ex: DataFrame) -> DataFrame:
    """Per-doc canonically-ordered shingle-hash arrays ``(_id, _hs)`` —
    the shared intermediate of the SSJoin/AllPairs prefix filter
    (Chaudhuri et al. SSJoin; Bayardo et al. AllPairs): each doc's
    hashes sorted by (global document frequency asc, hash asc), so a
    slice of the first ``n − ⌈t·n⌉ + 1`` IS the rare-shingle prefix and
    the whole array IS the verification set.

    The canonical order (_df asc, _h asc) is a valid total order for
    prefix filtering — ANY global order works as long as every doc uses
    the same one; a cross-doc ordering divergence would need two
    DISTINCT shingles with EQUAL xxhash64, the same V²/2⁶⁵ collision
    class the hashed intersection already documents.

    Exchange budget: the document frequency is one map-side-combined
    aggregate on ``_h`` whose output joins back onto the exploded frame
    (the join reuses the aggregate's own hash partitioning, so the
    exploded set crosses the wire ONCE, as 8-byte longs), and the array
    build is one hash-aggregate exchange on ``_id`` — neither pass
    SORTS the corpus-wide exploded set (the pre-r9 window formulation
    sorted it twice; ordering now happens per-doc inside ``array_sort``
    over each row's own shingles)."""
    dfc = ex.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    return (
        ex.join(dfc, "_h")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_a"))
        .select(
            "_id",
            F.transform("_a", lambda x: x["_h"]).alias("_hs"),
        )
    )


def jaccard_prefix_candidates(ex: DataFrame, threshold: float) -> DataFrame:
    """EXACT candidate pruning for Jaccard ≥ t: any pair with J ≥ t must
    share an indexed shingle from BOTH rare-shingle prefixes, so joining
    prefixes loses no true pair while skipping the high-frequency
    shingles that cause quadratic bucket blow-ups.  At 100 TB this is
    the difference between joining on "the end of" (≈ every doc) and
    joining on each doc's rarest shingles.  Composition of
    :func:`_prefix_doc_arrays` and :func:`_prefix_candidate_pairs`;
    ``ex`` is the hashed shingle frame ``(_id, _h)``."""
    return _prefix_candidate_pairs(_prefix_doc_arrays(ex), threshold)


def _prefix_candidate_pairs(per_doc: DataFrame, threshold: float) -> DataFrame:
    """Candidate ``(a_id, b_id)`` pairs from staged per-doc canonical
    arrays: explode only each doc's first ``n − ⌈t·n⌉ + 1`` hashes (the
    prefix) and self-equi-join on the hash — rows carry three ints and a
    long, and the join key frequency is bounded by PREFIX membership,
    not raw document frequency (a stop-shingle ranks last in every doc's
    canonical order and never enters a long doc's prefix).

    Two further PPJoin prunes ride in the join condition (Xiao, Wang,
    Lin, Yu — "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08), both codegen'd comparisons that only REMOVE pairs provably
    below threshold:

    * LENGTH filter: J(a,b) ≥ t forces t·|b| ≤ |a| (for |a| ≤ |b|) —
      a short doc never pairs with a much longer one.
    * POSITIONAL filter: J ≥ t needs overlap ≥ t/(1+t)·(|a|+|b|), and
      for a shared prefix hash at 0-based positions (pa, pb) the overlap
      is at most ``min(pa,pb) + 1 + min(|a|−pa−1, |b|−pb−1)`` — the
      canonical order is GLOBAL, so common elements split cleanly into
      before-w (≤ min(pa,pb)), w, and after-w (≤ min of suffix lengths).
      The bound holds for EVERY shared prefix hash, so dropping rows
      that fail it loses no true pair.

    FLOAT SAFETY (ADVICE r9): the r9 form took ``⌈fl(t/(1+t))·(na+nb)⌉``,
    and when ``fl(t/(1+t))`` rounds ABOVE the exact rational (t = 0.57:
    fl = 0.363057…>57/157) the ceil lands one integer too high, dropping
    a true pair sitting exactly AT threshold.  Both prunes therefore
    compare ALGEBRAICALLY with an epsilon slack on the prune side —
    ``overlap_ub·(1+t) ≥ t·(na+nb) − ε`` and ``t·n − ε ≤ m`` — so float
    rounding can only ADMIT a borderline candidate (harmless: exact
    verification follows), never reject one.  ε = 1e-6 absolute covers
    the ~1e-16 relative double error up to set sizes ~1e9.
    """
    n = F.size("_hs")
    # same ε on the prefix length: the minimal overlap a VERIFICATION-
    # passing partner can have is the smallest integer m with
    # fl(m/n) ≥ t, and fl(t·n) can round ABOVE that m (t=0.57, n=100:
    # fl(t·n)=57.000…006 → ceil 58 → prefix one SHORT, losing the at-
    # threshold pair before any filter runs); ε errs toward a one-longer
    # prefix (extra candidates, pruned by exact verification)
    plen = (n - F.ceil(F.lit(threshold) * n - F.lit(1e-6)) + F.lit(1)).cast(
        "int"
    )
    prefix = per_doc.select(
        "_id",
        n.alias("_n"),
        F.posexplode(F.slice("_hs", F.lit(1), plen)).alias("_p", "_h"),
    )
    a = prefix.alias("a").hint("shuffle_hash")
    b = prefix.alias("b").hint("shuffle_hash")
    na, nb = F.col("a._n"), F.col("b._n")
    pa, pb = F.col("a._p"), F.col("b._p")
    eps = F.lit(1e-6)
    overlap_ub = (
        F.least(pa, pb) + F.lit(1) + F.least(na - pa - 1, nb - pb - 1)
    )
    return (
        a.join(
            b,
            (F.col("a._h") == F.col("b._h"))
            & (F.col("a._id") < F.col("b._id"))
            # length filter (both directions — no |a| ≤ |b| normalization)
            & (na * F.lit(threshold) - eps <= nb.cast("double"))
            & (nb * F.lit(threshold) - eps <= na.cast("double"))
            # positional filter, cross-multiplied (no ceil, no ratio)
            & (
                overlap_ub.cast("double") * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (na + nb).cast("double") - eps
            ),
        )
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .distinct()
    )


def jaccard_similar_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard pairs via prefix filtering + exact verification —
    same output as :func:`jaccard_similar_pairs` (provably no lost pairs),
    with the candidate space pruned to docs sharing a rare-prefix shingle.

    Crossover: at small corpora the extra passes (document-frequency count,
    per-doc prefix ranking) cost more than the plain self-join saves; the
    pruning wins once high-frequency shingles make join buckets quadratic —
    candidate count scales with rare-shingle collisions instead of
    bucket² (verified exact-equal to the plain join in
    tests/test_phase2.py::test_prefix_filtering_is_exact).

    The staged intermediate is the per-doc canonical hash ARRAY frame
    (:func:`_prefix_doc_arrays`): the prefix explode slices it and the
    verification joins read the same arrays (pruned map-side to
    candidate docs by an AQE-broadcast semi-join), so verification costs
    no extra aggregation pass at all."""
    exh = _exploded_hashes(docs, id_col, text_col, k)
    per_doc = _stage(_prefix_doc_arrays(exh))
    # cand is NOT re-staged: the candidate subplan reads the staged
    # per_doc blocks, and its two consumers (the id semi-join and the
    # verify join) sit in ONE query, where AQE stage reuse dedupes the
    # shuffle stages — a second checkpoint would only add a serial
    # driver-blocking materialization round.
    cand = _prefix_candidate_pairs(per_doc, threshold)
    cand_ids = (
        cand.select(F.explode(F.array("a_id", "b_id")).alias("_id")).distinct()
    )
    sets = per_doc.join(cand_ids, "_id", "left_semi")
    return _verify_pairs_with_sets(cand, sets, threshold)


def portable_token_hash(col) -> "F.Column":
    """60-bit token hash derivable in ANY engine with md5: parse the first
    15 hex chars of ``md5(token)`` as an integer.  Slower than ``xxhash64``
    (md5 + string slicing per token) but bit-reproducible outside the JVM —
    the DuckDB oracle computes the identical value, making the SimHash
    operators oracle-checkable end-to-end."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_near_duplicate_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
    n_bits: int = 63,
) -> DataFrame:
    """SimHash near-duplicate pairs ``(a_id, b_id, hamming)`` with hamming
    distance ≤ ``max_hamming`` — the Manku/Jain/Das Sarma web-dedup shape.

    Pigeonhole exactness: split the 64-bit fingerprint into ``n_bands``
    bit-bands; any pair within hamming ``d < n_bands`` must agree on at
    least one whole band, so a join on ``(band, band_bits)`` finds every
    such pair (no recall loss), and ``bit_count(a XOR b)`` verifies each
    candidate exactly.  Shuffle key is the band value — bucket sizes track
    near-duplicate clusters, not corpus size.
    """
    if max_hamming >= n_bands:
        raise ValueError("exactness needs n_bands > max_hamming (pigeonhole)")
    width = -(-(n_bits + 1) // n_bands)  # ceil; bands must cover every bit
    mask = (1 << width) - 1
    sigs = simhash_signatures(
        docs, id_col=id_col, text_col=text_col, hash_fn=hash_fn, n_bits=n_bits
    )
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    # shuffle-hash: both sides share one hashpartitioning exchange, so the
    # signature aggregation runs once (same reuse pattern as the jaccard
    # shingle self-join)
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def doc_fingerprints(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bulk document fingerprints ``(doc_id, fingerprint)``: MIN of md5 per
    distinct k-shingle — same value as ``functions.text.doc_fingerprint``,
    computed as explode → hash-aggregate so the md5 runs codegen'd once per
    shingle instead of interpreted inside an array ``transform``."""
    ex = _exploded_shingles(docs, id_col, text_col, k)
    return (
        ex.groupBy("_id")
        .agg(F.min(F.md5(F.col("_s"))).alias("fingerprint"))
        .withColumnRenamed("_id", id_col)
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
    n_bits: int = 63,
) -> DataFrame:
    """Charikar SimHash: ``n_bits``-bit fingerprint ``(doc_id, simhash)``.

    For each bit position, majority vote of token-hash bits: bit k of the
    fingerprint is 1 iff Σ_tokens (hash(token) bit k ? +1 : −1) > 0.
    Computed as explode(tokens) → one hash per token → hash-aggregate
    with ``n_bits`` SUM columns (codegen'd, map-side combined), then the
    bits are OR-packed from the vote sums.  (An ``F.aggregate`` over the
    token array per bit would re-tokenize and re-hash interpreted per
    row.)  Near-duplicate docs land within small hamming distance.

    ``hash_fn`` defaults to JVM ``xxhash64`` with 63 usable bits (bit 63
    excluded keeps the fingerprint non-negative); pass
    :func:`portable_token_hash` with ``n_bits=60`` for a fingerprint an
    external SQL engine can reproduce bit-for-bit (the DuckDB oracle).
    """
    if hash_fn is None:
        hash_fn = lambda c: F.xxhash64(c)
    ex = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).select("_id", hash_fn(F.col("_t")).alias("_h"))
    votes = [
        F.sum(
            F.when(
                F.col("_h").bitwiseAND(F.lit(1 << k).cast("long")) != 0, 1
            ).otherwise(-1)
        ).alias(f"_v{k}")
        for k in range(n_bits)
    ]
    agg = ex.groupBy("_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for k in range(n_bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_v{k}") > 0, F.lit(1 << k).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select(F.col("_id").alias("doc_id"), sim.alias("simhash"))


def _substring_base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenized working frame ``(_id, _text, _toks, _n)`` shared by the
    span-election and reassembly stages."""
    toks = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    )


def _substring_dropped_positions(base: DataFrame, k: int) -> DataFrame:
    """Token positions ``(_id, _p)`` covered by non-keeper duplicated
    k-windows.  One shuffle keyed by the 16-byte window fingerprint (never
    text); output is bounded by ``k x duplicated windows``, not corpus
    size."""
    win = base.select(
        "_id",
        "_toks",
        F.explode(
            F.when(F.col("_n") >= k, F.sequence(F.lit(0), F.col("_n") - k)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_s"),
    ).select(
        "_id",
        "_s",
        F.md5(F.concat_ws(" ", F.slice("_toks", F.col("_s") + 1, k))).alias("_fp"),
    )
    w_fp = Window.partitionBy("_fp")
    w_keep = Window.partitionBy("_fp").orderBy(F.col("_id").asc(), F.col("_s").asc())
    dup_win = (
        win.withColumn("_cnt", F.count(F.lit(1)).over(w_fp))
        .withColumn("_rn", F.row_number().over(w_keep))
        .filter((F.col("_cnt") > 1) & (F.col("_rn") > 1))
        .select("_id", "_s")
    )
    return dup_win.select(
        "_id",
        F.explode(F.sequence(F.col("_s"), F.col("_s") + (k - 1))).alias("_p"),
    ).distinct()


def substring_duplicate_positions(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level duplication report: ``(doc_id, pos)`` for every token
    position covered by a non-keeper duplicated k-window (the set
    ``substring_window_dedup`` removes).  Useful on its own as a corpus
    audit, and lets harnesses measure the election stage separately from
    reassembly (tools/measure_scale.py)."""
    base = _substring_base(docs, id_col, text_col)
    return _substring_dropped_positions(base, k).select(
        F.col("_id").alias(id_col), F.col("_p").alias("pos")
    )


def substring_window_dedup(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup over k-token rolling windows (the ExactSubstr
    shape from "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): any k-token span that occurs elsewhere in the corpus
    is removed from every occurrence except the global keeper (minimum
    ``(doc_id, start)``), and each document is reassembled from its
    surviving tokens.  Returns ``(doc_id, clean_text, n_tokens,
    n_dropped)`` for every document.

    All hashing is ``md5`` of the space-joined window — portable, so the
    DuckDB oracle replays fingerprints bit-for-bit.

    Scale: windows shuffle once keyed by fingerprint (32-byte digests,
    never text) for keeper election; dropped spans explode to (doc, token
    position) pairs — bounded by k x duplicated windows, not the corpus.
    Reassembly touches ONLY affected documents: the (small) dropped-span
    frame yields the affected doc-id set, ``base`` is semi-joined to it
    before the token explode, and every untouched document passes through
    with its original text and zero rewrite cost.  Total rewrite shuffle
    therefore scales with duplicated-span volume, not corpus size (at a
    low dup rate the token-level shuffle is near-zero even at 100 TB).
    Documents shorter than k tokens pass through untouched.
    """
    base = _substring_base(docs, id_col, text_col)
    # the dropped-position frame is small (k x duplicated windows); stage it
    # so the window-election subtree runs once, not once per consumer below
    dropped = _stage(_substring_dropped_positions(base, k))
    affected = dropped.select("_id").distinct()
    touched = base.join(affected, "_id", "left_semi")
    tokens = touched.select("_id", F.posexplode("_toks").alias("_p", "_tok"))
    survived = tokens.join(dropped, ["_id", "_p"], "left_anti")
    rebuilt = survived.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda x: x["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    # fully-deduplicated documents still appear, with an empty clean_text
    # (the caller decides whether to drop empties)
    touched_out = (
        touched.select("_id", "_n")
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("_n").alias("n_tokens"),
            (F.col("_n") - F.coalesce(F.col("_kept"), F.lit(0))).alias("n_dropped"),
        )
    )
    # untouched docs: original text verbatim (split/rejoin on " " is the
    # identity, so this equals what reassembly would have produced)
    untouched_out = base.join(affected, "_id", "left_anti").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("_text"), F.lit("")).alias("clean_text"),
        F.col("_n").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_dropped"),
    )
    return untouched_out.unionByName(touched_out)


class MinHashIndex(NamedTuple):
    """The persistent near-dup index: the two frames plus the hashing
    PARAMETERS they were built with.  The parameters are part of the
    artifact (ADVICE r10): probing with a mismatched ``num_hashes``/
    ``k``/banding layout would compare incompatible signatures —
    ``zip_with`` pads the shorter array with NULLs, every agreement test
    goes NULL, and the probe silently reports zero near-dups instead of
    erroring.  :func:`minhash_probe` validates them before planning."""

    signatures: DataFrame  # (doc_id BIGINT, sig ARRAY<BIGINT>)
    buckets: DataFrame     # (doc_id BIGINT, band INT, bucket BIGINT[, _pfx])
    num_hashes: int = 64
    k: int = 3
    bands: int = 16
    rows_per_band: int = 4
    #: when > 0 the bucket frame carries a ``_pfx = pmod(bucket, P)``
    #: partition column (written via partitionBy), and minhash_probe
    #: prunes the bucket scan to the batch's own prefixes — point
    #: probes read 1/P of the store instead of all of it
    bucket_partitions: int = 0


#: artifact schema contract, pinned by save/load and pytest
_INDEX_SIG_SCHEMA = {"doc_id": "bigint", "sig": "array<bigint>"}
_INDEX_BUCKET_SCHEMA = {"doc_id": "bigint", "band": "int", "bucket": "bigint"}


def minhash_index(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> MinHashIndex:
    """Build the persistent near-dup INDEX of a corpus — the frames an
    incremental pipeline materializes (:func:`save_minhash_index`) so
    tomorrow's crawl never re-shingles today's corpus: signatures
    ``(doc_id, sig: array<bigint>)`` and the banded ``(doc_id, band,
    bucket)`` lookup table, carried with their hashing parameters as a
    :class:`MinHashIndex`.

    Index size is ``num_hashes`` longs + ``bands`` bucket rows per doc —
    ~0.6 KB at the defaults, independent of document length; the corpus
    TEXT is never needed again for candidate discovery.
    """
    # the signature frame feeds BOTH index datasets (and, in
    # save_minhash_index, two writes): stage it lazily so shingling +
    # the num_hashes-column aggregate run once, not once per consumer
    sigs = _stage(
        minhash_signatures(
            docs, num_hashes=num_hashes, k=k, id_col=id_col,
            text_col=text_col,
        )
    )
    return MinHashIndex(
        sigs, _banded(sigs, bands, rows_per_band),
        num_hashes, k, bands, rows_per_band,
    )


def save_minhash_index(
    index: MinHashIndex, path: str, bucket_partitions: int = 0
) -> None:
    """Materialize a :class:`MinHashIndex` as the on-disk artifact a
    100 TB pipeline keeps BETWEEN crawls: three parquet datasets under
    ``path`` — ``signatures/``, ``buckets/``, and a one-row ``params/``
    carrying the hashing layout (and the bucket layout), so a later
    session can refuse a mismatched probe instead of silently missing
    every near-dup.

    ``bucket_partitions = P > 0`` (VERDICT r11 #2) writes the bucket
    table hive-partitioned by ``_pfx = pmod(bucket, P)`` so daily
    probes PRUNE: :func:`minhash_probe` collects the batch's own prefix
    set (≤ P values) and pushes an ``isin`` partition filter into the
    scan — a point probe (one document) reads ~``bands``/P of the
    store's files instead of all of them.  Pruning pays off when the
    batch's distinct-bucket count is small against P (the index-once /
    probe-daily mode); a batch whose buckets cover every prefix reads
    the full store exactly as the flat layout does.

    With ``bucket_partitions = 0`` both frames are written partitioned
    however the build left them (signature construction ends in a
    doc-keyed aggregate)."""
    index.signatures.write.mode("overwrite").parquet(f"{path}/signatures")
    if bucket_partitions > 0:
        index.buckets.withColumn(
            "_pfx",
            F.pmod(F.col("bucket"), F.lit(bucket_partitions)).cast("int"),
        ).write.mode("overwrite").partitionBy("_pfx").parquet(
            f"{path}/buckets"
        )
    else:
        index.buckets.write.mode("overwrite").parquet(f"{path}/buckets")
    spark = index.signatures.sparkSession
    from cdc_data_lake_pyspark_spark.localrel import tiny_frame

    tiny_frame(
        spark,
        [
            (
                index.num_hashes,
                index.k,
                index.bands,
                index.rows_per_band,
                int(bucket_partitions),
            )
        ],
        "num_hashes INT, k INT, bands INT, rows_per_band INT, "
        "bucket_partitions INT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_minhash_index(
    spark: SparkSession, path: str, exclude_writer: Optional[int] = None
) -> MinHashIndex:
    """Reload a persisted :func:`save_minhash_index` artifact, validating
    the schema contract before any query plans against it (a drifted
    artifact fails HERE, at load, with a readable message — not deep in
    an executor as a binding error or a silently-empty join).  A
    half-finished :func:`compact_minhash_index` swap (old store parked,
    store missing) is repaired before reading, so a crash mid-compaction
    never strands the artifact unreadable.

    ``exclude_writer`` (VERDICT r14 #5) filters out rows APPENDED under
    that writer id (``append_to_minhash_index(..., writer_id=...)``) —
    the day-granularity replay-leak exclusion: a daily job re-running
    day k after a crash that landed day k's append must not probe
    against the dead attempt's own leaked signatures (they would drop
    every day-k keeper as an estimate-1.0 self-duplicate).  It is
    :func:`~cdc_data_lake_pyspark_spark.store.without_writer`, so
    untagged rows (the bootstrap save, untagged appends) stay
    candidates."""
    for sub in ("signatures", "buckets", "params"):
        recover_halfswap(f"{path}/{sub}")
    params_rows = spark.read.parquet(f"{path}/params").collect()
    if len(params_rows) != 1:
        raise ValueError(
            f"minhash index params at {path}/params must be exactly one "
            f"row, found {len(params_rows)}"
        )
    p = params_rows[0].asDict()
    bucket_partitions = p.get("bucket_partitions") or 0
    # mergeSchema: a store maintained by the STREAMING near-dup gate
    # carries a writer batch_id column in its appended files (the
    # replay-leak exclusion key); batch readers tolerate and DROP it —
    # plain inference samples one file and would make the column's
    # presence nondeterministic on a mixed seeded+streamed store
    sigs = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/signatures"
    )
    buckets = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/buckets"
    )
    want_buckets = dict(_INDEX_BUCKET_SCHEMA)
    if bucket_partitions > 0:
        # the partition column rides along so minhash_probe can push an
        # isin partition filter into the scan
        want_buckets["_pfx"] = "int"
    checked = []
    for frame, want, what in (
        (sigs, _INDEX_SIG_SCHEMA, "signatures"),
        (buckets, want_buckets, "buckets"),
    ):
        got = dict(frame.dtypes)
        if got.pop("batch_id", "bigint") != "bigint":
            raise ValueError(
                f"minhash index {what} schema drifted: batch_id is "
                "not bigint"
            )
        if got != want:
            raise ValueError(
                f"minhash index {what} schema drifted: {got} != {want}"
            )
        if exclude_writer is not None and "batch_id" in frame.columns:
            frame = without_writer(frame, exclude_writer)
        checked.append(frame.drop("batch_id"))
    sigs, buckets = checked
    return MinHashIndex(
        sigs,
        buckets,
        p["num_hashes"],
        p["k"],
        p["bands"],
        p["rows_per_band"],
        bucket_partitions,
    )


def minhash_probe(
    batch: DataFrame,
    index: "MinHashIndex | tuple",
    threshold: float = 0.8,
    num_hashes: int = 64,
    k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_docs: Optional[DataFrame] = None,
) -> DataFrame:
    """INCREMENTAL near-dup: probe a NEW batch against a prebuilt
    :func:`minhash_index` — the dedup mode a 100 TB pipeline actually
    runs day over day (re-shingling the whole corpus per crawl is the
    thing this exists to avoid; the novelty gate covers the EXACT-dup
    analogue, this is its near-dup counterpart).  Returns
    ``(batch_id, index_id, jaccard)``.

    Two modes:

    * ``verify_docs=None`` (pure incremental): ``jaccard`` is the
      Broder ESTIMATE — the fraction of agreeing signature components —
      computed entirely from the stored index; no document text is
      touched beyond shingling the batch itself.  E[estimate] equals
      true Jaccard; σ ≈ sqrt(J(1−J)/num_hashes) (~0.05 at J=0.8,
      64 hashes) — callers gate slightly below their target threshold
      and exact-verify survivors when precision matters.
    * ``verify_docs=<frame>``: candidates are exactly verified against
      the supplied texts (only candidate docs' rows are read — at scale
      these are point lookups against the corpus store), giving
      exact-Jaccard output with banding-recall candidates (the
      ``dedup_minhash_lsh`` recall argument, now cross-corpus).

    Scale shape: batch signatures are one map-side-combined aggregate
    over the BATCH only; candidate discovery is a (band, bucket) hash
    join against the stored bucket table — bucket sizes track duplicate
    density, never corpus size; the estimate join moves two
    ``num_hashes``-long arrays per candidate.
    """
    if isinstance(index, MinHashIndex):
        # the index carries its hashing layout (ADVICE r10): a probe
        # built with different parameters would compare incompatible
        # signatures — zip_with pads with NULLs, jaccard goes NULL, and
        # every candidate silently filters out.  Refuse loudly instead.
        got = (num_hashes, k, bands, rows_per_band)
        built = (index.num_hashes, index.k, index.bands, index.rows_per_band)
        if got != built:
            raise ValueError(
                "minhash_probe parameters (num_hashes, k, bands, "
                f"rows_per_band) = {got} do not match the index's {built}"
            )
        idx_sigs, idx_buckets = index.signatures, index.buckets
    else:  # legacy bare (signatures, buckets) pair: no validation possible
        idx_sigs, idx_buckets = index
    bsigs = _stage(
        minhash_signatures(
            batch, num_hashes=num_hashes, k=k, id_col=id_col,
            text_col=text_col,
        )
    )
    bban = _banded(bsigs, bands, rows_per_band)
    if isinstance(index, MinHashIndex):
        idx_buckets = _pruned_index_buckets(bban, index)
    cand = _estimate_candidates(bban, idx_buckets)
    if verify_docs is not None:
        ex = _exploded_hashes(verify_docs, id_col, text_col, k)
        out = _verify_candidate_pairs(
            cand.select(
                F.col("batch_id").alias("a_id"),
                F.col("index_id").alias("b_id"),
            ),
            ex,
            threshold,
        )
        return out.select(
            F.col("a_id").alias("batch_id"),
            F.col("b_id").alias("index_id"),
            "jaccard",
        )
    return _estimate_filter(cand, bsigs, idx_sigs, threshold, num_hashes)


def _pruned_index_buckets(bban: DataFrame, index: MinHashIndex) -> DataFrame:
    """The index's bucket frame, partition-PRUNED to the probing batch's
    own bucket prefixes when the artifact carries the hive layout
    (``bucket_partitions > 0``; VERDICT r11 #2): the batch's prefixes
    bound which partitions can possibly collide — collect them
    (≤ bucket_partitions values; the banding projection over the staged
    signatures is a cheap re-run) and push the ``isin`` filter into the
    scan.  A point probe reads ~bands/P of the store; a batch covering
    every prefix degrades gracefully to the full scan.  Shared by
    :func:`minhash_probe` and the streaming near-dup gate."""
    if index.bucket_partitions <= 0 or "_pfx" not in index.buckets.columns:
        return index.buckets
    pfxs = [
        r[0]
        for r in bban.select(
            F.pmod(F.col("bucket"), F.lit(index.bucket_partitions))
            .cast("int")
            .alias("_pfx")
        )
        .distinct()
        .collect()
    ]
    return index.buckets.filter(F.col("_pfx").isin(pfxs)).drop("_pfx")


def _estimate_filter(
    cand: DataFrame,
    bsigs: DataFrame,
    idx_sigs: DataFrame,
    threshold: float,
    num_hashes: int,
) -> DataFrame:
    """Broder-estimate join over ``(batch_id, index_id)`` candidate
    pairs: attach both signatures, score the component-agreement
    fraction, keep pairs at/above ``threshold``.  Shared by
    :func:`minhash_probe` (estimate mode) and the streaming near-dup
    gate — the estimate semantics are defined ONCE."""
    agree = F.aggregate(
        F.zip_with(
            F.col("bs.sig"),
            F.col("ix.sig"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(bsigs.alias("bs"), cand.batch_id == F.col("bs.doc_id"))
        .join(idx_sigs.alias("ix"), cand.index_id == F.col("ix.doc_id"))
        .select(
            "batch_id",
            "index_id",
            (agree.cast("double") / F.lit(float(num_hashes))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _refuse_live_gate_store(spark: SparkSession, d: str, api: str) -> None:
    """Guard a batch-artifact rewrite against a LIVE streaming-gate
    store (ADVICE r13, medium): the batch compactors read with a fixed
    schema that drops the gates' writer ``batch_id`` column — the
    replay-leak exclusion key.  Running one on a live gate store would
    erase the key, and a later crash-replay would then drop every
    re-delivered doc as an estimate-1.0 self-duplicate.  Cheap check:
    a ``mergeSchema`` read surfaces the column if ANY file carries it;
    one non-null value means a streaming writer owns this store."""
    import os

    if not os.path.isdir(d):
        return
    df = spark.read.option("mergeSchema", "true").parquet(d)
    if "batch_id" not in df.columns:
        return
    if not df.filter(F.col("batch_id").isNotNull()).isEmpty():
        raise ValueError(
            f"{d} carries non-null writer batch_id rows — it is "
            "maintained by a streaming gate, and this batch rewrite "
            f"would erase the replay-leak exclusion key.  Use the "
            f"gate's own compact() instead of {api}."
        )


def append_to_minhash_index(
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keepers_only: bool = True,
    writer_id: Optional[int] = None,
) -> None:
    """Index UPDATE — the first-class daily append a persisted
    :func:`save_minhash_index` artifact needs (VERDICT r12 #1: the raw
    ``mode("append")`` writes it replaces were layout-blind — they would
    have silently corrupted a ``bucket_partitions > 0`` store with
    partition-column-less files).  Loads ``params/`` (refusing a
    drifted artifact — :func:`load_minhash_index` validates the schema
    contract and the hive layout before anything is written), signs the
    new documents with the ARTIFACT'S OWN hashing layout, and appends
    signatures + banded buckets — writing ``_pfx`` and ``partitionBy``
    when the store is partitioned, flat otherwise.

    ``keepers_only`` (default, and idempotent on an already-deduped
    frame) applies the keeper discipline the capstone measured at 100x
    (SCALE.md §21): index ONE representative per exact-content group —
    the min-id keeper of ``md5(lower(trim(text)))`` — so index size
    tracks unique content, not crawl volume.  Verdicts are unchanged
    (identical text ⇒ identical shingle set ⇒ identical Jaccard to any
    member).

    Scale: the append touches only the NEW documents (one
    map-side-combined signature aggregate + one digest groupBy for the
    keeper election); the existing store is never read or rewritten —
    pair with :func:`compact_minhash_index` to fold the accumulated
    small files offline.

    The keeper election is WITHIN the appended batch; content already
    in the index is the caller's concern by composition — the daily
    pipeline probes first (:func:`minhash_probe` drops near-dups of
    indexed content) and appends only the survivors' keepers, so no
    already-indexed content can reach the append (the
    ``daily_refresh_loop`` / capstone order of operations).

    ``writer_id`` (VERDICT r14 #5) tags every appended row with a
    writer ``batch_id`` — the streaming gates' replay-leak exclusion
    key at day granularity, so a crash-rerun of the same day can
    exclude the dead attempt's rows via
    ``load_minhash_index(..., exclude_writer=day)``.  A store carrying
    non-null writer ids is thereafter the writer's to compact (the
    batch :func:`compact_minhash_index` refuses it — its fixed schema
    would erase the exclusion key; use a batch_id-preserving
    :func:`~cdc_data_lake_pyspark_spark.store.compact_store`, as
    ``daily_refresh_loop`` does)."""
    spark = docs.sparkSession
    index = load_minhash_index(spark, index_dir)
    new = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    ).filter(F.col("text").isNotNull())
    if keepers_only:
        keepers = exact_dedup(new).select(
            F.col("keeper_id").alias("doc_id")
        )
        new = new.join(keepers, "doc_id", "left_semi")
    sigs = _stage(
        minhash_signatures(new, num_hashes=index.num_hashes, k=index.k)
    )
    _append_signatures(index_dir, sigs, index, writer_id)


def _append_signatures(
    index_dir: str,
    sigs: DataFrame,
    layout: MinHashIndex,
    writer_id: Optional[int] = None,
) -> None:
    """Append already-computed ``(doc_id, sig)`` rows and their banded
    buckets to the index at ``index_dir``, in ``layout``'s banding and
    bucket partitioning, each row tagged with ``writer_id`` when given.
    ``sigs`` is read twice, so the caller stages it.  The one writer of
    both :func:`append_to_minhash_index` and the streaming near-dup
    gate.

    Signatures are written FIRST (VERDICT r13 #2): a signature without
    bucket rows is inert — it can never become a candidate, so a crash
    between the two appends leaves a store whose probes are identical
    to the pre-append store, and the retry heals it (duplicate rows
    fold).  The reverse order left orphan BUCKET rows whose candidate
    pairs silently dropped in _estimate_filter's signature join —
    probes in the crash window MISSED near-dups of the half-appended
    docs (pinned in tests/test_index_persistence.py)."""
    tagged = sigs if writer_id is None else tag_writer(sigs, writer_id)
    tagged.write.mode("append").parquet(f"{index_dir}/signatures")
    banded = _banded(sigs, layout.bands, layout.rows_per_band)
    if writer_id is not None:
        banded = tag_writer(banded, writer_id)
    if layout.bucket_partitions > 0:
        pfx = F.pmod(F.col("bucket"), F.lit(layout.bucket_partitions))
        writer = (
            banded.withColumn("_pfx", pfx.cast("int"))
            .write.mode("append")
            .partitionBy("_pfx")
        )
    else:
        writer = banded.write.mode("append")
    writer.parquet(f"{index_dir}/buckets")


def compact_minhash_index(
    spark: SparkSession, index_dir: str, target_files: int = 4
) -> None:
    """Offline maintenance for the batch index artifact — the
    counterpart of the streaming gate's ``compact()`` (VERDICT r12 #1):
    daily :func:`append_to_minhash_index` calls accumulate one small
    file set per day; this rewrites ``signatures/`` and ``buckets/`` as
    ``target_files`` files each (per hive partition for a
    ``bucket_partitions > 0`` bucket store), folding exact duplicate
    rows, behind the crash-recoverable swap of
    :func:`~cdc_data_lake_pyspark_spark.store.compact_store`.  Probe
    results are IDENTICAL before and after: candidate discovery
    distincts pairs and duplicate signature rows only duplicate
    estimate rows that fold downstream (pinned in
    tests/test_index_persistence.py).  Run between probe
    jobs — the artifact is single-writer by the daily-pipeline
    contract.

    On a store the STREAMING gate has appended to, this rewrite would
    NORMALIZE to the batch-artifact layout: writer batch_ids dropped
    (the fixed read schema never materializes them) — which would erase
    a LIVE gate's replay-leak exclusion key, so any store carrying
    non-null batch_id rows is REFUSED at runtime
    (:func:`_refuse_live_gate_store`, ADVICE r13) and directed to the
    gate's own ``compact()``, which preserves batch_id."""
    index = load_minhash_index(spark, index_dir)  # validates layout
    for sub in ("signatures", "buckets"):
        _refuse_live_gate_store(
            spark, f"{index_dir}/{sub}", "compact_minhash_index"
        )
    sig_schema = "doc_id BIGINT, sig ARRAY<BIGINT>"
    bucket_schema = "doc_id BIGINT, band INT, bucket BIGINT"
    partition_col = None
    if index.bucket_partitions > 0:
        bucket_schema += ", _pfx INT"
        partition_col = "_pfx"
    compact_store(
        spark, f"{index_dir}/signatures", sig_schema, target_files
    )
    compact_store(
        spark,
        f"{index_dir}/buckets",
        bucket_schema,
        target_files,
        partition_col,
    )


def _estimate_candidates(
    bban: DataFrame, idx_buckets: DataFrame
) -> DataFrame:
    """Distinct ``(batch_id, index_id)`` banding collisions — the
    candidate-discovery hash join of :func:`minhash_probe`, factored so
    the streaming gate reuses it for both its cross-index and its
    within-batch candidate sets."""
    return (
        bban.alias("b")
        .join(
            idx_buckets.alias("i"),
            (F.col("b.band") == F.col("i.band"))
            & (F.col("b.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("i.doc_id").alias("index_id"),
        )
        .distinct()
    )
