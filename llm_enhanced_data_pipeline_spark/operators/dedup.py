"""Deduplication operators (SURVEY.md §2.3 + training-data dedup suite).

Reference parity (semantics only — the implementations are Spark-first):
- D1 merge + first-wins key dedup   Data_Collection/merge_jsonl.py:11-23
- D2 exact-ID dedup, null-preserving strict_deduplication.py:21-32
- D3 title-hash dedup               strict_deduplication.py:35-45
- D4 title-similarity dedup         strict_deduplication.py:48-76

Scale posture (100 TB): every keep-one is a window over a hash
partition (shuffle on the dedup key only, no global sort); the fuzzy
family avoids the reference's O(n^2) loop via MinHash banding / SimHash
bucketing so candidate generation is an equi-join, with the exact
pairwise check only inside buckets. Exact D4 compares rows only within
a shared prefix token (prefix filtering: lossless, one window pass).
The plain pairwise variants are kept for small inputs and as the
oracle-checkable ground truth.

Greedy-chain note: the reference's O(n^2) loop removes j only when its
earlier partner i itself survived. That sequential rule is inherently
iterative; the distributed semantics implemented here (and documented
as the engine's contract) is "a row is removed if ANY earlier row is
similar to it", which equals the reference's output whenever similarity
is transitive within groups (the common case for >=0.9 thresholds).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions.arrays import index_1_to
from .cleaning import tokens


# Persisted intermediates (minhash signature frames, simhash
# fingerprints, component edges) are still referenced by the LAZY
# result frames these operators return, so they cannot be unpersisted
# before the caller materializes the result. They register here
# instead; long-lived sessions call :func:`release_caches` after
# consuming results to keep cached blocks from accumulating.
_LIVE_CACHES: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it with this module's cache ledger.

    The PUBLIC multi-consumer persistence hook for the whole package
    (bpe, corpus, composite queries): any frame persisted through here
    stays cached until the caller invokes :func:`release_caches` after
    materializing its results — callers take on that release
    obligation (a long-lived session that never releases accumulates
    executor blocks). Operators that persist eagerly (e.g. doremi's
    (domain, token) counts) also run their materializing job at
    plan-construction time; their docstrings say so."""
    cached = df.persist()
    _LIVE_CACHES.append(cached)
    return cached


#: backwards-compat alias (pre-r7 internal name)
_persist_tracked = persist_tracked


# localCheckpoint block registry: (SparkContext, persistent-RDD ids).
# DataFrame.unpersist is a no-op for locally-checkpointed frames (the
# blocks belong to the INTERNAL checkpointed RDD, and df.rdd wraps a
# fresh conversion RDD, so df.rdd.unpersist() frees nothing — verified
# empirically); the only handle that releases them is the JVM's
# persistent-RDD map. Each checkpoint records the ids it created; the
# iterative operators free superseded rounds immediately and park their
# FINAL frame's ids here for :func:`release_caches`.
_LIVE_CKPT_IDS: list[tuple[object, frozenset]] = []


def _truncate_lineage(df: DataFrame) -> tuple[DataFrame, frozenset]:
    """Checkpoint ``df`` to cut its logical plan, returning the new
    frame plus the persistent-RDD block ids the checkpoint created.

    Uses the RELIABLE checkpoint when the session has a checkpoint dir
    configured (production posture: survives executor loss, which
    localCheckpoint does not — an executor death mid-loop kills a
    localCheckpoint-based job), else falls back to localCheckpoint
    (test/local posture: no DFS needed). Reliable checkpoints create no
    persistent blocks, so their id set is empty and cleanup is the
    checkpoint dir's concern.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True), frozenset()
    before = set(sc._jsc.getPersistentRDDs().keys())
    out = df.localCheckpoint(eager=True)
    created = frozenset(set(sc._jsc.getPersistentRDDs().keys()) - before)
    return out, created


class reliable_checkpoints:
    """Context manager switching this module's iterative operators
    (connected_components, connected_components_star, and every other
    _truncate_lineage user) from localCheckpoint to RELIABLE
    checkpoints written under ``checkpoint_dir``.

    The tradeoff, as configuration rather than caveat:

    - default (no checkpoint dir): ``localCheckpoint`` — fastest, no
      DFS needed, but blocks live on executors only, so one lost
      executor kills a multi-hour CC job at the 100 TB posture;
    - ``with reliable_checkpoints(spark, "hdfs://.../ckpt"):`` — each
      round is materialized to the DFS, so executor loss merely
      recomputes the current round from the last checkpoint. Both
      modes run the identical label-propagation/star-contraction code
      and converge to identical components (tested on the sf0.01
      fixture in test_dedup_semantics).

    Restores the session's previous checkpoint-dir setting on exit,
    including the unset state (Spark has no public un-set API; we
    restore the underlying option directly). Checkpoint files under
    the dir are NOT auto-deleted — lifecycle belongs to the caller,
    matching Spark's own contract for setCheckpointDir.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self._sc = spark.sparkContext
        self._dir = checkpoint_dir

    def __enter__(self):
        self._prev = self._sc.getCheckpointDir()
        self._sc.setCheckpointDir(self._dir)
        return self

    def __exit__(self, *exc):
        # restore the RAW previous option: setCheckpointDir(prev) would
        # mint a fresh UUID subdirectory under prev instead of restoring
        # the identical dir (and grow the path on every nested scope).
        # The raw restore needs Spark's INTERNAL var setter; if a Spark
        # release renames it, fall back to the public API (accepting
        # the UUID-subdir growth) rather than failing jobs whose body
        # succeeded.
        try:
            jsc = getattr(self._sc._jsc.sc(), "checkpointDir_$eq")
            jsc(self._sc._jvm.scala.Option.apply(self._prev))
        except (AttributeError, TypeError):
            if self._prev is not None:
                self._sc.setCheckpointDir(self._prev)
        return False


def _release_ckpt_blocks(sc, ids: frozenset) -> None:
    """Free the executor blocks behind a superseded localCheckpoint.
    The frame they backed must never be referenced again afterwards."""
    if not ids:
        return
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def release_caches() -> int:
    """Unpersist every cached intermediate created by this module's
    operators since the last release — persisted frames AND the final
    localCheckpoint blocks of the iterative operators. Returns the
    number released. Call AFTER materializing results; a released
    PERSISTED frame recomputes if re-used, but a released CHECKPOINTED
    frame cannot (its lineage was truncated) — don't re-use those."""
    return release_caches_since((0, 0))


def cache_mark() -> tuple[int, int]:
    """Position marker into the cache ledgers, for scoped release."""
    return (len(_LIVE_CACHES), len(_LIVE_CKPT_IDS))


def release_caches_since(mark: tuple[int, int]) -> int:
    """Release only the cached intermediates registered AFTER ``mark``
    (from :func:`cache_mark`). bench.py uses this between repetitions
    of a slot so every rep pays its own cold build — Spark's
    CacheManager matches persisted frames by analyzed-PLAN equality,
    so without the release a rep re-running an identical lineage reads
    the previous rep's cache and the median reports warm-cache cost.
    Entries BEFORE the mark (e.g. the shared MinHash index, whose
    marginal-cost attribution depends on staying live) are kept."""
    i, j = mark
    n = len(_LIVE_CACHES) - i
    for df in _LIVE_CACHES[i:]:
        df.unpersist()
    del _LIVE_CACHES[i:]
    n += len(_LIVE_CKPT_IDS) - j
    for sc, ids in _LIVE_CKPT_IDS[j:]:
        _release_ckpt_blocks(sc, ids)
    del _LIVE_CKPT_IDS[j:]
    return n


# ---------------------------------------------------------------------------
# D1 — union N sources, first occurrence of a key wins. "First" is
# (source_rank, order_in_source); in Spark order-in-file is not a given,
# so callers pass explicit ordering columns.

def union_first_wins(
    dfs: list[DataFrame], key: Column | str, order_cols: list[Column | str]
) -> DataFrame:
    ranked = [df.withColumn("_src_rank", F.lit(i)) for i, df in enumerate(dfs)]
    out = ranked[0]
    for df in ranked[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    key_col = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(key_col).orderBy("_src_rank", *order_cols)
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_rank")
    )


# D2 — exact-key dedup that KEEPS every null/empty-key row
# (strict_deduplication.py:27-29: `elif not pid: unique_papers.append`).
# A bare dropDuplicates would collapse all null keys into one row.

def dedup_exact_null_preserving(
    df: DataFrame, key: Column | str, order_cols: list[Column | str]
) -> DataFrame:
    key_col = F.col(key) if isinstance(key, str) else key
    keyless = key_col.isNull() | (key_col.cast("string") == F.lit(""))
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    ranked = df.withColumn(
        "_rn", F.when(keyless, F.lit(1)).otherwise(F.row_number().over(w))
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


# D3 — content-hash dedup: md5(lower(trim(text))), keep first. The
# reference hashes even empty titles (one survivor among empties); the
# notebook variant exempts empties — exposed via `keep_all_empty`.

def content_hash(col: Column) -> Column:
    return hashing.md5_hex(F.lower(F.trim(col)))


def dedup_content_hash(
    df: DataFrame,
    text_col: str,
    order_cols: list[Column | str],
    keep_all_empty: bool = False,
) -> DataFrame:
    h = content_hash(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy(h).orderBy(*order_cols)
    is_empty = F.trim(F.coalesce(F.col(text_col), F.lit(""))) == F.lit("")
    rn = F.row_number().over(w)
    keep = (rn == 1) | (F.lit(keep_all_empty) & is_empty)
    return df.withColumn("_keep", keep).filter(F.col("_keep")).drop("_keep")


# ---------------------------------------------------------------------------
# Pairwise similarity primitives

def jaccard_token_sets(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two token arrays (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def word_shingles(toks: Column, n: int) -> Column:
    """n-gram shingles (space-joined consecutive token windows)."""
    idx = index_1_to(F.size(toks) - (n - 1))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


# D4 — similarity dedup, exact form ("remove if any earlier similar row
# exists") as one prefix-filtered window pass. Prefix filtering (Chaudhuri
# et al., ICDE 2006; Vernica et al., SIGMOD 2010): under one global token
# order, two sets with Jaccard >= t share a token among the first
# |A| - ceil(t*|A|) + 1 tokens of each, so comparing rows only within a
# shared prefix token loses no pair. Sub-quadratic except for tokens that
# sit in most rows' prefixes; the oracle ground truth for the LSH path.

def dedup_similarity_exact(
    df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float = 0.9,
    prefer_desc_col: str | None = None,
) -> DataFrame:
    """Keep-first fuzzy dedup.

    ``prefer_desc_col`` mirrors the reference's keep-newest rule: rows
    are ordered by (prefer desc, id asc) and a row is dropped when any
    predecessor in that order has token-set Jaccard >= threshold. Rows
    with an empty token set or a null id are never dropped; when ids
    repeat, a flagged id drops every row carrying it.

    One read of ``df``, no join: each row is copied once per prefix
    token (order: xxhash64 then token), a window per token checks the
    row against the earlier rows sharing that token, and a window per
    id folds the copies back into the row.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    # threshold as num/den for the integer prefix length: the written
    # value (0.9 -> 9/10) when the double rounds back to it, else rounded
    # down, which only lengthens prefixes
    q = Fraction(threshold).limit_denominator(1000)
    if float(q) != threshold:
        q = Fraction(math.floor(Fraction(threshold) * 1000), 1000)
    base = df.withColumn("_set", F.array_distinct(F.col(token_col)))
    n = "CAST(size(_set) AS BIGINT)"
    prefix_len = F.expr(
        f"{n} - ({n} * {q.numerator} + {q.denominator - 1}) DIV {q.denominator} + 1"
    )
    ordered = F.array_sort(
        F.transform("_set", lambda t: F.struct(F.xxhash64(t).alias("h"), t.alias("t")))
    )
    prefix = F.transform(F.slice(ordered, 1, prefix_len), lambda s: s["t"])
    # Empty sets explode to one (_pos null) row keyed by its own id, so
    # they skip the token window instead of sharing one null partition.
    copies = base.select("*", F.posexplode_outer(prefix).alias("_pos", "_tok"))

    rid, rset = F.col(id_col), F.col("_set")
    # Falsy-to-0 like the reference ('publish_year or 0',
    # strict_deduplication.py:68-69): a null preference must still
    # order, or a near-dup pair would silently keep both rows.
    rpref = F.coalesce(F.col(prefer_desc_col), F.lit(0)) if prefer_desc_col else F.lit(0)
    earlier = (
        Window.partitionBy("_tok", F.when(F.col("_pos").isNull(), rid))
        .orderBy(rpref.desc(), rid.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def similar(x: Column) -> Column:
        # Size band first: jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|).
        lsize, rsize = F.size(x["s"]).cast("double"), F.size(rset).cast("double")
        return (
            ((x["p"] > rpref) | ((x["p"] == rpref) & (x["id"] < rid)))
            & (lsize * threshold <= rsize)
            & (rsize * threshold <= lsize)
            & (jaccard_token_sets(x["s"], rset) >= F.lit(threshold))
        )

    seen = F.collect_list(
        F.struct(rid.alias("id"), rpref.alias("p"), rset.alias("s"))
    ).over(earlier)
    dup = F.coalesce(F.when(F.size(rset) > 0, F.exists(seen, similar)), F.lit(False))
    return (
        copies.withColumn("_dup", dup)
        .withColumn("_any", F.max("_dup").over(Window.partitionBy(rid)))
        .filter(F.coalesce(F.col("_pos"), F.lit(0)) == 0)
        .filter(rid.isNull() | ~F.col("_any"))
        .drop("_set", "_pos", "_tok", "_dup", "_any")
    )


# MinHash + LSH banding — the 100 TB path for D4. Candidate pairs come
# from equality joins on band keys (shuffle, no cross product); each
# candidate is verified with the exact Jaccard.

def _band_key_cols(num_hashes: int, bands: int) -> list[Column]:
    """LSH band-key columns over a :func:`minhash_grouped` frame's
    ``_s0.._sN`` signature columns: band index + md5 of the band's
    signature slice (identical to the DuckDB oracle's construction)."""
    rows_per_band = num_hashes // bands
    band_keys = []
    for b_idx in range(bands):
        parts = [
            F.col(f"_s{b_idx * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        digest = hashing.md5_hex(F.concat_ws(",", *parts))
        band_keys.append(F.concat(F.lit(f"{b_idx}:"), digest))
    return band_keys


def shingle_hash_rows(
    df: DataFrame, id_col: str, token_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle_hash) rows: n-gram shingle hashes built from
    per-token md5 hashes combined arithmetically over a lead() window.

    Why this shape: higher-order array lambdas are interpreted (outside
    whole-stage codegen) and re-evaluate captured subtrees per element,
    so array-based shingling is 10-100x slower than it looks. Here the
    token array is exploded once, the scalar md5 runs inside codegen,
    and consecutive-token combination is two lead() calls over the
    (id, pos) window. The window's hash partitioning on id is reused by
    the downstream groupBy(id) aggregations — one shuffle total.

    shingle_hash = fold over the n token hashes: acc*131 + h (mod p) —
    identical arithmetic is trivially reproducible in the DuckDB oracle.
    """
    tok_rows = df.select(
        F.col(id_col), F.posexplode(F.col(token_col)).alias("_pos", "_tok")
    )
    hashed = tok_rows.select(
        F.col(id_col), F.col("_pos"), hashing.stable_hash32(F.col("_tok")).alias("_h")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    sh = F.col("_h") % hashing.ROLLING_PRIME
    last = F.col("_h")
    for k in range(1, n):
        last = F.lead("_h", k).over(w)
        sh = (sh * 131 + last) % hashing.ROLLING_PRIME
    return (
        hashed.select(F.col(id_col), sh.alias("_sh"), last.alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select(F.col(id_col), F.col("_sh"))
    )


def minhash_grouped(
    df: DataFrame,
    id_col: str,
    token_col: str,
    num_hashes: int = 16,
    shingle_n: int | None = None,
) -> DataFrame:
    """The per-id MinHash state: (id, _hset = distinct hash set,
    _s0.._sN = signature minima), persisted. Building this frame is the
    expensive part of the whole near-dup family (md5 per token ×
    num_hashes mixes), and the SAME frame serves pair generation,
    survivor selection, and component clustering — callers running
    several of those should build it once and pass it through the
    ``grouped`` parameter instead of letting each call rebuild it."""
    if shingle_n is None:
        rows = df.select(
            F.col(id_col), F.explode(F.col(token_col)).alias("_tok")
        ).select(F.col(id_col), hashing.stable_hash32(F.col("_tok")).alias("_sh"))
    else:
        rows = shingle_hash_rows(df, id_col, token_col, shingle_n)
    sig_cols = []
    for i in range(num_hashes):
        a, b = hashing._mix_consts(i)
        sig_cols.append(
            F.min((F.col("_sh") * a + b) % hashing.MINHASH_PRIME).alias(f"_s{i}")
        )
    frame = _persist_tracked(
        rows.groupBy(id_col).agg(F.collect_set("_sh").alias("_hset"), *sig_cols)
    )
    # Materialize NOW: the pair join consumes this frame through three
    # re-aliased self-join branches, and planning those against a
    # not-yet-built cache makes each branch (including broadcast
    # builds) recompute the whole shingle+md5 pipeline instead of
    # reading the cache — measured 15x slower at 44k docs. One cheap
    # count turns every downstream consumer into an InMemoryTableScan.
    frame.count()
    return frame


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int | None = None,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) candidate pairs with jaccard >= threshold
    over hash sets: per-token hashes when ``shingle_n`` is None, n-gram
    shingle hashes otherwise. ``grouped`` accepts a prebuilt
    :func:`minhash_grouped` frame (must match num_hashes/shingle_n).

    Banding: 16 hashes in 8 bands of 2 → collision prob at s=0.8 is
    1-(1-s^2)^8 ≈ 0.99.

    Execution shape (the part that matters at 100 TB):
    - set semantics (distinct, intersect/union for Jaccard) run on
      primitive longs — hash-set Jaccard equals token-set Jaccard up to
      hash-collision probability (~1e-7 per pair element).
    - the 16 signature minima are codegen hash AGGREGATES over the
      exploded (id, hash) rows; min-over-duplicates == min-over-
      distinct, so no dedup is needed before aggregation.
    - the band self-join and pair dedup move ONLY (id, band) /
      (id_a, id_b) rows; hash sets are joined back (from the persisted
      per-id set frame) just for the final verification.
    """
    if grouped is None:
        grouped = minhash_grouped(df, id_col, token_col, num_hashes, shingle_n)
    band_keys = _band_key_cols(num_hashes, bands)
    banded = grouped.select(F.col(id_col), F.explode(F.array(*band_keys)).alias("_band"))
    left = banded.select(F.col(id_col).alias("id_a"), "_band")
    right = banded.select(F.col(id_col).alias("id_b"), "_band")
    candidates = (
        left.join(right, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets_a = grouped.select(F.col(id_col).alias("id_a"), F.col("_hset").alias("_aset"))
    sets_b = grouped.select(F.col(id_col).alias("id_b"), F.col("_hset").alias("_bset"))
    return (
        candidates.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jaccard", jaccard_token_sets(F.col("_aset"), F.col("_bset")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_minhash_lsh(
    df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int | None = None,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """Keep-first fuzzy dedup at scale: drop b of every (a<b) near pair."""
    pairs = near_dup_pairs_minhash(
        df, id_col, token_col, threshold, num_hashes, bands, shingle_n, grouped
    )
    dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dup_ids, id_col, "left_anti")


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) where component = min node id reachable through
    the near-dup pair graph — the EXACT cluster semantics that the
    reference's sequential greedy loop approximates (keep one row per
    similarity component instead of per pairwise edge).

    Iterative min-label propagation: labels start as own id; each round
    every node takes the min of its own and its neighbors' labels; stop
    at fixpoint. The loop is driver-side CONTROL only (a convergence
    count per round) — data never leaves the cluster. Rounds needed =
    graph diameter (near-dup components are tiny), and each round is
    one shuffle join; for huge graphs swap in large-star/small-star.

    ``pairs`` needs columns (id_a, id_b).
    """
    edges = _persist_tracked(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    edges.count()  # build once; every propagation round re-reads it
    # Checkpoint (not persist) each round: iterative loops MUST truncate
    # the logical plan — persist caches the data but the analyzer still
    # re-walks the whole accumulated tree, which grows ~2x per round and
    # turns driver-side analysis into the bottleneck long before the
    # data does. _truncate_lineage picks reliable checkpoint when a
    # checkpoint dir is set (fault-tolerant, production) and
    # localCheckpoint otherwise (local/test); superseded rounds' blocks
    # are freed immediately so executors hold at most two label frames.
    sc = nodes.sparkSession.sparkContext
    labels, live_ids = _truncate_lineage(
        nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels, new_ids = _truncate_lineage(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        _release_ckpt_blocks(sc, live_ids)  # superseded round — free now
        labels, live_ids = new_labels, new_ids
        if changed == 0:
            break
    _LIVE_CKPT_IDS.append((sc, live_ids))  # final frame: release_caches()
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 12,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    diameter-INDEPENDENT twin of :func:`connected_components`.

    Min-label propagation needs O(diameter) rounds: fine for near-dup
    cliques (diameter ~2), fatal for chain-shaped graphs at 100 TB.
    Star contraction converges in O(log n) rounds regardless of shape:

    - large-star: every node connects its LARGER neighbors to its
      minimum neighborhood element;
    - small-star: every node connects its smaller-or-equal neighbors
      (and itself) to that minimum.

    Each half-round is one groupBy + one equi-join on the edge list.
    The driver sees only a per-round convergence checksum; edges never
    leave the cluster. Same output contract as connected_components:
    (id, component) with component = min reachable id.
    """
    # normalized undirected edge list (u < v), self-loops dropped
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )

    def star_round(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = m.select("u", F.least("u", "_mn").alias("_m"))
        joined = sym.join(m, "u")
        emitted = (
            joined.filter(F.col("v") > F.col("u"))
            if large
            else joined.filter(F.col("v") <= F.col("u")).unionByName(
                m.select(F.col("u").alias("v"), F.col("_m")).withColumn(
                    "u", F.col("v")
                ).select("u", "v", "_m")
            )
        )
        out = (
            emitted.select(F.col("v").alias("a"), F.col("_m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )
        return out

    def checksum(edges: DataFrame) -> tuple[int, int]:
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum((F.col("u") * 31 + F.col("v")) % 1_000_000_007), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # Checkpoint every round: star contraction references the previous
    # edge set ~4x per round, so without lineage truncation the logical
    # plan grows 4^rounds and Catalyst analysis (driver-side) becomes
    # the scale killer — the data itself shrinks every round. Superseded
    # rounds' blocks are freed immediately (see _truncate_lineage for
    # the reliable-vs-local checkpoint tradeoff).
    sc = nodes.sparkSession.sparkContext
    e, live_ids = _truncate_lineage(e)
    prev = checksum(e)
    for _ in range(max_iterations):
        nxt, new_ids = _truncate_lineage(
            star_round(star_round(e, large=True), large=False)
        )
        cur = checksum(nxt)
        _release_ckpt_blocks(sc, live_ids)  # superseded round — free now
        e, live_ids = nxt, new_ids
        if cur == prev:
            break
        prev = cur
    _LIVE_CKPT_IDS.append((sc, live_ids))  # final frame: release_caches()
    # after convergence every edge points node -> component min
    roots = e.groupBy(F.col("v").alias(id_col)).agg(F.min("u").alias("component"))
    return (
        nodes.select(id_col)
        .join(roots, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )


def dedup_components(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep exactly one row (the min-id representative) per similarity
    component; rows with no near-dup partner survive unchanged."""
    comps = connected_components(df.select(id_col), pairs, id_col)
    keep = comps.filter(F.col(id_col) == F.col("component")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def ml_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float = 0.7,
    num_hash_tables: int = 8,
) -> DataFrame:
    """Spark-ML variant of the MinHash-LSH near-dup join
    (CountVectorizer → MinHashLSH.approxSimilarityJoin), per SURVEY.md
    §2.3's suggested primitive.

    Same output contract as :func:`near_dup_pairs_minhash`
    ((id_a, id_b, jaccard) with jaccard >= threshold) but approximate
    recall governed by ``numHashTables``, and NOT oracle-reproducible
    (Spark-internal hash seeds) — the md5-based operator remains the
    correctness-gated path; this one exists for ML-pipeline interop and
    is exercised against the exact ground truth in tests.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    base = df.select(F.col(id_col), F.col(token_col).alias("_toks")).filter(
        F.size("_toks") > 0
    )
    cv = CountVectorizer(inputCol="_toks", outputCol="_features", binary=True)
    feats = cv.fit(base).transform(base)
    mh = MinHashLSH(
        inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=42
    )
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="_dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1.0 - F.col("_dist"), 6).alias("jaccard"),
        )
    )


# SimHash near-dup: single 60-bit fingerprint per doc; near-dups =
# hamming distance <= k. Bucketing by rotating bit-blocks keeps the
# candidate join linear (pigeonhole: distance<=k pairs share at least
# one of k+1 blocks).

def with_simhash(df: DataFrame, token_col: str, out_col: str = "simhash") -> DataFrame:
    """Array-expression SimHash (fine for one pass over materialized
    token arrays; the self-join path below uses the explode/aggregate
    form instead — see simhash_by_id)."""
    hashes = F.transform(F.col(token_col), lambda t: hashing.stable_hash60(t))
    return df.withColumn("_th", hashes).withColumn(
        out_col, hashing.simhash60_from_hashes(F.col("_th"))
    ).drop("_th")


def simhash_by_id(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """(id, simhash) via explode + 60 codegen vote aggregates — the
    whole-stage-codegen form of :func:`with_simhash` (same HOF-
    interpretation rationale as the MinHash path). Docs with no tokens
    get simhash 0, matching the array form's empty-fold result."""
    tok_rows = df.select(F.col(id_col), F.explode(F.col(token_col)).alias("_tok")).select(
        F.col(id_col), hashing.stable_hash60(F.col("_tok")).alias("_h")
    )
    # SQL-string expressions: one py4j call per vote instead of ~8
    # Column-object calls — the 60-wide tree made plan CONSTRUCTION the
    # dominant cost of the whole operator (~1.5s per invocation).
    votes = [
        F.expr(f"sum((shiftright(_h, {j}) % 2) * 2 - 1) AS _v{j}") for j in range(60)
    ]
    sig = tok_rows.groupBy(id_col).agg(*votes)
    out_sql = " + ".join(
        f"(CASE WHEN _v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    sig = sig.select(F.col(id_col), F.expr(out_sql).alias("simhash"))
    return (
        df.select(id_col)
        .join(sig, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash"))
    )


def banded_hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int,
    blocks: int,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with bit_count(xor) <= max_hamming
    over any ``bits``-wide non-negative fingerprint column, via the
    pigeonhole block-bucketed equi-join shared by the SimHash (text),
    pHash (image), and audio/video fingerprint lanes.

    Requires blocks >= max_hamming + 1 for exact recall (a pair within
    max_hamming must agree on at least one of the ``bits // blocks``-
    bit blocks). Integer (block_index, block_value) join keys — no
    string concat/hash per candidate row — and the cheap hamming
    filter runs BEFORE the pair dedup so the dropDuplicates shuffle
    only carries true near-dups, not every same-block candidate. The
    caller is responsible for persisting+materializing ``hashes``
    ahead of this two-sided self-join (unbuilt-cache re-alias hazard,
    see minhash_grouped)."""
    if blocks < max_hamming + 1:
        raise ValueError("pigeonhole recall needs blocks >= max_hamming + 1")
    block_bits = bits // blocks
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("_bi"),
                (
                    F.shiftright(F.col(hash_col), b * block_bits)
                    % F.lit(2**block_bits)
                ).alias("_bv"),
            )
            for b in range(blocks)
        ]
    )
    keyed = hashes.select(
        F.col(id_col), F.col(hash_col), F.explode(block_structs).alias("_k")
    ).select(
        F.col(id_col),
        F.col(hash_col),
        F.col("_k._bi").alias("_bi"),
        F.col("_k._bv").alias("_bv"),
    )
    left = keyed.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("_ha"), "_bi", "_bv"
    )
    right = keyed.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("_hb"), "_bi", "_bv"
    )
    return (
        left.join(right, ["_bi", "_bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hashing.hamming60(F.col("_ha"), F.col("_hb")))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def near_dup_pairs_simhash(
    df: DataFrame,
    id_col: str,
    token_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with distance <= max_hamming.

    Requires blocks >= max_hamming + 1 for exact recall (pigeonhole on
    15-bit blocks of the 60-bit fingerprint).
    """
    sh = _persist_tracked(simhash_by_id(df, id_col, token_col))
    # materialize before the two-sided self-join reads it (same
    # unbuilt-cache re-alias hazard as minhash_grouped)
    sh.count()
    return banded_hamming_pairs(sh, id_col, "simhash", 60, max_hamming, blocks)


def near_dup_pairs_phash(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 6,
    blocks: int = 7,
) -> DataFrame:
    """Perceptual near-dup pairs over IMAGE payloads: (id_a, id_b,
    hamming) with DCT-pHash distance <= max_hamming.

    The media analogue of :func:`near_dup_pairs_simhash`: decode each
    payload (PNG/JPEG/GIF/PNM dispatch), compute the 63-bit DCT pHash
    (multimodal.phash63 — re-encodes, global brightness shifts and
    proportional resizes of the same picture collide), then find pairs
    through the same pigeonhole block-bucketed equi-join — 9-bit
    blocks of the 63-bit hash, lossless for distance <= blocks-1,
    never an all-pairs product. Only (id, 8-byte hash) rows reach the
    shuffle; the raster never leaves the decode stage. Undecodable
    payloads are quarantined by phash_by_id, so corrupt media simply
    produce no pairs."""
    if blocks < max_hamming + 1:
        raise ValueError("pigeonhole recall needs blocks >= max_hamming + 1")
    from .multimodal import phash_by_id  # defer the numpy-heavy module

    ph = _persist_tracked(
        phash_by_id(df.select(F.col(id_col), F.col(payload_col)), id_col, payload_col)
    )
    ph.count()  # materialize before the two-sided self-join re-alias
    ph = ph.select(F.col("doc_id").alias(id_col), "phash")
    return banded_hamming_pairs(ph, id_col, "phash", 63, max_hamming, blocks)


def near_dup_pairs_audio_fp(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 6,
    blocks: int = 7,
) -> DataFrame:
    """Perceptual near-dup pairs over AUDIO payloads: (id_a, id_b,
    hamming) with energy-delta fingerprint distance <= max_hamming.

    The audio member of the perceptual-dedup family (SimHash for
    text, DCT-pHash for images): decode each WAV payload (PCM16 or
    G.711), compute the 63-bit Haitsma-Kalker-style energy-delta
    fingerprint (multimodal.audio_fingerprint63 — volume changes and
    lattice-exact G.711 transcodes of the same recording collide),
    then pair through the shared pigeonhole block-bucketed equi-join.
    Only (id, 8-byte fingerprint) rows reach the shuffle; corrupt
    payloads are quarantined by audio_fp_by_id."""
    if blocks < max_hamming + 1:
        raise ValueError("pigeonhole recall needs blocks >= max_hamming + 1")
    from .multimodal import audio_fp_by_id  # defer the numpy-heavy module

    fp = _persist_tracked(
        audio_fp_by_id(
            df.select(F.col(id_col), F.col(payload_col)), id_col, payload_col
        )
    )
    fp.count()  # materialize before the two-sided self-join re-alias
    fp = fp.select(F.col("doc_id").alias(id_col), "audio_fp")
    return banded_hamming_pairs(fp, id_col, "audio_fp", 63, max_hamming, blocks)


def near_dup_pairs_video_fp(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 6,
    blocks: int = 7,
) -> DataFrame:
    """Perceptual near-dup pairs over VIDEO payloads (RIFF AVI/MJPEG
    or YUV4MPEG2): per-frame DCT pHash folded by per-bit majority
    vote (multimodal.video_fingerprint63 — the same clip re-wrapped
    in a different container or with a few damaged frames collides),
    pairs through the shared pigeonhole block-bucketed equi-join.
    Only (id, 8-byte fingerprint) rows reach the shuffle; the frames
    never leave the decode stage; corrupt payloads are quarantined by
    video_fp_by_id."""
    if blocks < max_hamming + 1:
        raise ValueError("pigeonhole recall needs blocks >= max_hamming + 1")
    from .multimodal import video_fp_by_id  # defer the numpy-heavy module

    fp = _persist_tracked(
        video_fp_by_id(
            df.select(F.col(id_col), F.col(payload_col)), id_col, payload_col
        )
    )
    fp.count()  # materialize before the two-sided self-join re-alias
    fp = fp.select(F.col("doc_id").alias(id_col), "video_fp")
    return banded_hamming_pairs(fp, id_col, "video_fp", 63, max_hamming, blocks)


# n-gram Jaccard near-dup: shingle then exact pairwise Jaccard (the
# content-aware variant; word order matters through the shingles).

def near_dup_pairs_ngram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    toks = tokens(F.col(text_col))
    sh = df.select(
        F.col(id_col), F.array_distinct(word_shingles(toks, n)).alias("_sh")
    ).filter(F.size("_sh") > 0)
    left = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    right = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    # Lossless size-band prune: jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|).
    size_band = (
        F.size("_sa").cast("double") * threshold <= F.size("_sb").cast("double")
    ) & (F.size("_sb").cast("double") * threshold <= F.size("_sa").cast("double"))
    return (
        left.join(right, (F.col("id_a") < F.col("id_b")) & size_band)
        .withColumn("jaccard", F.round(jaccard_token_sets(F.col("_sa"), F.col("_sb")), 6))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


# Embedding-cosine near-dup (see vector.py for the general kNN/topk).

def near_dup_pairs_embedding(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs ground truth — O(n^2) theta self-join, small-N ONLY.

    This is the oracle twin for recall tests; the production/scale path
    is :func:`near_dup_pairs_embedding_ivf`, which generates candidates
    through an equi-join on multi-probe IVF buckets."""
    from .vector import cosine_similarity  # local import to avoid cycle

    left = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    right = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        left.join(right, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def near_dup_pairs_embedding_ivf(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    nprobe: int = 2,
) -> DataFrame:
    """Scale path for embedding near-dup: candidates come from an
    equi-join on multi-probe IVF bucket keys, then the exact cosine is
    verified inside the bucket — no all-pairs self-join anywhere.

    Each vector is assigned to its ``nprobe`` nearest centroids
    (broadcast join against the tiny centroid set); two vectors become
    a candidate pair iff they share a probed centroid, so boundary-
    straddling near-dups are still caught. At 100 TB the join shuffles
    on the centroid key only, and bucket sizes are bounded by the
    centroid count chosen at build time (~sqrt(N) buckets keeps the
    in-bucket verify linear-ish)."""
    from .vector import cosine_similarity, ivf_assign

    assigned = ivf_assign(
        df.select(id_col, vec_col), centroids, id_col, vec_col, nprobe=nprobe
    ).select(F.col(id_col), F.col("ckey"))
    cand = (
        assigned.select(F.col(id_col).alias("id_a"), "ckey")
        .join(assigned.select(F.col(id_col).alias("id_b"), "ckey"), "ckey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Incremental (snapshot-to-batch) dedup — the production ingest shape:
# a 100 TB corpus maintains its content-hash index as a TABLE; each
# incoming crawl batch is deduplicated against that index with an
# anti equi-join (broadcast when the batch's hash set is small, plain
# shuffle otherwise) plus a first-wins pass WITHIN the batch. Nothing
# ever rescans the historical corpus text — only its hash index.

def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    order_cols: list[Column | str],
    index_fp_col: str = "fp",
) -> DataFrame:
    """Batch rows surviving ingest: content fingerprint not present in
    the snapshot index, and first occurrence within the batch (ordered
    by ``order_cols``). Adds the fingerprint as ``_fp``."""
    fp = content_hash(F.coalesce(F.col(text_col), F.lit("")))
    keyed = batch.withColumn("_fp", fp)
    fresh = keyed.join(
        index.select(F.col(index_fp_col).alias("_fp")), "_fp", "left_anti"
    )
    w = Window.partitionBy("_fp").orderBy(*order_cols)
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def content_index(df: DataFrame, text_col: str) -> DataFrame:
    """The snapshot's content-hash index: distinct fingerprints only —
    the artifact a production pipeline persists between ingests."""
    return df.select(
        content_hash(F.coalesce(F.col(text_col), F.lit(""))).alias("fp")
    ).distinct()


def containment_pairs(
    df: DataFrame,
    id_col: str,
    token_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """Directional near-dup pairs by shingle CONTAINMENT:
    |A ∩ B| / |A| >= threshold, a != b — the subset-duplication
    detector. A short document pasted inside a much longer one has low
    Jaccard (the union is dominated by B) but full containment; C4-era
    dedup misses it, which is why containment joins exist (Bayardo et
    al. WWW'07 / set-similarity-join prefix filtering).

    Candidate generation is NOT all-pairs-sharing-a-shingle (the
    common-shingle blowup): a pair qualifies iff |A ∩ B| >=
    ceil(t_pm * |A| / 1000) (threshold held as per-mille INTEGER
    t_pm — float (1-t)*|A| is off by one whenever the product is
    mathematically integral, e.g. (1.0-0.8)*5 = 0.9999...), so B can
    miss at most |A| - that many of A's shingles and must contain one
    of A's |A| - min_intersect + 1 globally-RAREST shingles (the
    prefix-filter lemma, exact in integer arithmetic). Only those
    prefix rows join against the corpus's shingle rows — selectivity
    is set by rare keys — and surviving (a, b) candidates are
    verified exactly on the hash sets. The integer-over-integer
    containment ratio is engine-exact, so the threshold compare
    cannot diverge.

    Returns (id_a, id_b, containment) with id_a the CONTAINED side.
    Scale shape: shingle explode, a doc-frequency count, one per-doc
    rank window, the rare-key equi-join, and the set-verify joins over
    the candidate list. Never doc x doc. The ``grouped=None`` fallback
    builds only the shingle-set frame (no MinHash signatures — this
    operator never reads them).
    """
    t_pm = round(threshold * 1000)
    if grouped is None:
        grouped = _persist_tracked(
            shingle_hash_rows(df, id_col, token_col, shingle_n)
            .groupBy(id_col)
            .agg(F.collect_set("_sh").alias("_hset"))
        )
        grouped.count()  # eager build; see minhash_grouped
    rows = grouped.select(
        F.col(id_col), F.explode(F.col("_hset")).alias("_sh")
    )
    freq = rows.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    sized = rows.join(freq, "_sh")
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("_sh").asc())
    set_size = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    # min_intersect = ceil(t_pm * |A| / 1000), exact integer arithmetic
    min_intersect = F.expr(f"(({t_pm} * _sz + 999) div 1000)")
    prefix = (
        sized.withColumn("_rn", F.row_number().over(w))
        .withColumn("_sz", set_size)
        .filter(F.col("_rn") <= F.col("_sz") - min_intersect + 1)
        .select(F.col(id_col).alias("id_a"), "_sh")
    )
    corpus_rows = rows.select(F.col(id_col).alias("id_b"), "_sh")
    candidates = (
        prefix.join(corpus_rows, "_sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets_a = grouped.select(F.col(id_col).alias("id_a"), F.col("_hset").alias("_aset"))
    sets_b = grouped.select(F.col(id_col).alias("id_b"), F.col("_hset").alias("_bset"))
    cont = F.size(F.array_intersect(F.col("_aset"), F.col("_bset"))).cast(
        "double"
    ) / F.size(F.col("_aset"))
    from ..functions.rounding import stable_round

    return (
        candidates.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .filter(cont >= F.lit(threshold))
        .select("id_a", "id_b", stable_round(cont, 6).alias("containment"))
    )


def minhash_index(
    grouped: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """The NEAR-dup twin of :func:`content_index`: the persisted LSH
    index a corpus snapshot stores next to its data — one row per
    (doc, band key), carrying the doc's shingle-hash set for exact
    Jaccard verification at query time.

    ``grouped`` is a :func:`minhash_grouped` frame (or a filtered view
    of the shared one). At 100 TB this table lives partitioned by the
    band key, so an ingest batch probes it with a plain equi-join and
    never rescans the corpus.
    """
    band_keys = _band_key_cols(num_hashes, bands)
    return grouped.select(
        F.col(id_col),
        F.explode(F.array(*band_keys)).alias("_band"),
        F.col("_hset"),
    )


def near_dup_against_index(
    batch_grouped: DataFrame,
    index: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Incremental near-dup screening: every batch document checked
    against a snapshot's :func:`minhash_index` WITHOUT touching the
    snapshot corpus — the fuzzy analogue of
    :func:`dedup_against_index`'s exact content-hash ingest path.

    Returns (id, n_matches, is_dup) for every doc in
    ``batch_grouped``: the count of index documents sharing an LSH
    band AND verified at hash-set Jaccard >= threshold, and the drop
    decision. Batch-internal duplicates are out of scope by contract
    (run the in-batch dedup family for those).

    Scale shape: band-key equi-join of the batch's banded signatures
    against the index (partition-pruned when the index is stored
    bucketed by band), pair dedup on (batch id, index id), Jaccard
    verification on the joined hash sets, one count aggregation. Cost
    is O(batch x collision rate), independent of snapshot size.
    """
    band_keys = _band_key_cols(num_hashes, bands)
    b = batch_grouped.select(
        F.col(id_col).alias("_bid"),
        F.explode(F.array(*band_keys)).alias("_band"),
        F.col("_hset").alias("_bset"),
    )
    idx = index.select(
        F.col(id_col).alias("_iid"), "_band", F.col("_hset").alias("_iset")
    )
    cands = b.join(idx, "_band").dropDuplicates(["_bid", "_iid"])
    verified = cands.filter(
        jaccard_token_sets(F.col("_bset"), F.col("_iset")) >= F.lit(threshold)
    )
    counts = verified.groupBy("_bid").agg(F.count(F.lit(1)).alias("n_matches"))
    return (
        batch_grouped.select(F.col(id_col))
        .join(counts.withColumnRenamed("_bid", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("bigint").alias("n_matches"),
            (F.coalesce(F.col("n_matches"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter dedup index: the compact, broadcastable artifact derived
# from a snapshot's content-hash index. At 100 TB the full fingerprint
# index is itself a large table; the Bloom bitset (m bits ~ 10x the
# row count for ~1% FPR) fits in executor memory, so incremental
# ingest PRE-FILTERS each batch map-side ("definitely new" rows skip
# the index anti-join entirely) and only possible-duplicate rows pay
# the shuffle against the real index. Built entirely by aggregation:
# k bit positions per fingerprint -> (word slot, bit) -> bit_or per
# slot. 62 usable bits per int64 word keeps every shift non-negative
# in both engines.

BLOOM_BITS_PER_WORD = 62


def bloom_positions(fp: Column, m_bits: int, k: int) -> Column:
    """Array of k bit positions for a fingerprint (seeded md5 mixes)."""
    return F.array(
        *[hashing.stable_hash32(fp, seed=i) % m_bits for i in range(k)]
    )


def bloom_index(df: DataFrame, fp_col: str, m_bits: int, k: int) -> DataFrame:
    """(slot, bits) rows — the set words of the Bloom bitset."""
    pos = df.select(
        F.explode(bloom_positions(F.col(fp_col), m_bits, k)).alias("_pos")
    )
    return (
        pos.select(
            (F.col("_pos") / BLOOM_BITS_PER_WORD).cast("bigint").alias("slot"),
            (F.col("_pos") % BLOOM_BITS_PER_WORD).alias("_bit"),
        )
        .groupBy("slot")
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(_bit AS INT))")).alias("bits")
        )
    )


def bloom_index_sql(rel: str, fp_expr: str, m_bits: int, k: int) -> str:
    """DuckDB twin of :func:`bloom_index` over ``rel``."""
    poss = ", ".join(
        f"({hashing.stable_hash32_sql(fp_expr, seed=i)} % {m_bits})" for i in range(k)
    )
    return f"""
SELECT (_pos // {BLOOM_BITS_PER_WORD})::BIGINT AS slot,
       bit_or((1::BIGINT << (_pos % {BLOOM_BITS_PER_WORD})::INT)) AS bits
FROM (SELECT unnest([{poss}]) AS _pos FROM {rel})
GROUP BY 1
"""


def bloom_might_contain(
    batch: DataFrame, index: DataFrame, fp_col: str, m_bits: int, k: int
) -> DataFrame:
    """Adds ``maybe_dup``: True iff EVERY one of the fingerprint's k
    bits is set (Bloom semantics: no false negatives, tunable false
    positives). The index is broadcast — this is the map-side
    pre-filter in front of the exact anti-join."""
    pos = batch.withColumn(
        "_pos", F.explode(bloom_positions(F.col(fp_col), m_bits, k))
    ).select(
        *batch.columns,
        (F.col("_pos") / BLOOM_BITS_PER_WORD).cast("bigint").alias("slot"),
        (F.col("_pos") % BLOOM_BITS_PER_WORD).alias("_bit"),
    )
    joined = pos.join(F.broadcast(index), "slot", "left").withColumn(
        "_hit",
        F.coalesce(
            F.expr("shiftright(bits, cast(_bit AS INT))") % 2 != 0,
            F.lit(False),
        ),
    )
    return joined.groupBy(*batch.columns).agg(
        (F.sum(F.when(F.col("_hit"), 1).otherwise(0)) == k).alias("maybe_dup")
    )


def dedup_components_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_cols: list[Column],
) -> DataFrame:
    """Cluster dedup with a pluggable survivor policy: one row per
    similarity component, ranked by ``order_cols`` (keep-newest,
    keep-longest, keep-highest-quality, ...). `dedup_components` is the
    min-id special case; production corpus builds usually keep the
    best-quality or most recent representative instead. One extra
    hash-partitioned window over the component key — no change to the
    clustering's shuffle shape."""
    comps = connected_components(df.select(id_col), pairs, id_col)
    w = Window.partitionBy("component").orderBy(*order_cols)
    ranked = df.join(comps, id_col).withColumn("_rn", F.row_number().over(w))
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


#: Auto-k target: the paper's regime holds cluster SIZE constant as the
#: corpus grows (50k clusters for LAION-440M ≈ 9k vectors/cluster on
#: GPU; for the in-executor pairwise prune a much smaller fill keeps
#: sum(|cluster|^2) = n * target — linear with a small constant).
SEMDEDUP_TARGET_CLUSTER_SIZE = 64


def semdedup_auto_k(n_rows: int, target_cluster_size: int = SEMDEDUP_TARGET_CLUSTER_SIZE) -> int:
    """k ~ n / target_cluster_size (at least 1): the arXiv:2303.09540
    scaling regime. Deriving k from the corpus size is what makes the
    in-cluster quadratic prune scale-INVARIANT — with fixed k, cluster
    fill grows with n and the pair count detonates quadratically."""
    return max(1, -(-int(n_rows) // int(target_cluster_size)))


def semdedup_survivors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = 8,
    iters: int = 2,
    tau: float = 0.35,
    target_cluster_size: int = SEMDEDUP_TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    embedding-cluster pruning. K-means the embeddings (the exact
    integer-grid Lloyd's trainer, so the partition is engine- and
    shuffle-order-reproducible), then WITHIN each cluster drop any
    vector whose cosine similarity to an earlier-in-keep-order cluster
    member reaches ``tau``. Keep-order follows the paper: ascending
    similarity to the cluster centroid (keep the most atypical member
    of each duplicate group), id ascending as the tie-break.

    Returns the survivor frame (id, cluster, centroid_sim).

    Scale shape: the trainer is the audited kmeans chain (broadcast
    centroids, keyed windows); the prune is a self-equi-join on the
    cluster key with the pairwise cosine verified in-bucket — cost is
    sum(|cluster|^2), never n^2. Pass ``k=None`` for the production
    default: k is derived as n / ``target_cluster_size`` (one eager
    count job at plan-construction time), so cluster fill stays
    CONSTANT as the corpus grows and the prune's pair count is
    n * target — linear (the paper's regime; it uses 50k clusters for
    LAION). A fixed explicit k is the oracle-replayable mode for gates
    and small corpora — with fixed k the pair count grows
    quadratically in n, so never fix k on a growing corpus.

    Beyond-reference scale operator; reference anchor for the dedup
    family: Data_Cleaning/strict_deduplication.py (exact/near title
    dedup), generalized to embedding space.
    """
    from .vector import (
        cosine_similarity,
        dequantize_centroids,
        kmeans_train_quantized,
    )

    if k is None:
        k = semdedup_auto_k(df.count(), target_cluster_size)
    assigned, cents = kmeans_train_quantized(df, id_col, vec_col, k=k, iters=iters)
    serving = dequantize_centroids(cents).withColumnRenamed("ckey", "cid")
    base = (
        df.select(id_col, vec_col)
        .join(assigned.select(id_col, "cid"), id_col)
        .join(F.broadcast(serving), "cid")
        .select(
            F.col(id_col),
            F.col("cid").alias("cluster"),
            F.col(vec_col).alias("_v"),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("centroid")), 6
            ).alias("centroid_sim"),
        )
    )
    return semdedup_prune_within(base, id_col, tau)


def semdedup_prune_within(
    base: DataFrame, id_col: str, tau: float
) -> DataFrame:
    """The in-cluster prune stage of SemDeDup, separated so callers can
    bring their own clustering (and so the scale smoke can time the
    prune under the production invariant — cluster count growing with
    the corpus, cluster SIZE constant). ``base`` columns:
    (id, cluster, _v vector, centroid_sim)."""
    from .vector import cosine_similarity

    x = base.select(
        "cluster",
        F.col(id_col).alias("_xid"),
        F.col("_v").alias("_xv"),
        F.col("centroid_sim").alias("_xs"),
    )
    y = base.select(
        "cluster",
        F.col(id_col).alias("_yid"),
        F.col("_v").alias("_yv"),
        F.col("centroid_sim").alias("_ys"),
    )
    earlier = (F.col("_ys") < F.col("_xs")) | (
        (F.col("_ys") == F.col("_xs")) & (F.col("_yid") < F.col("_xid"))
    )
    dropped = (
        x.join(y, "cluster")
        .filter(earlier)
        .filter(
            F.round(cosine_similarity(F.col("_xv"), F.col("_yv")), 6)
            >= F.lit(tau)
        )
        .select(F.col("_xid").alias(id_col))
        .distinct()
    )
    return base.join(dropped, id_col, "left_anti").select(
        id_col, "cluster", "centroid_sim"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
# Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
# MOSS algorithm). Guarantees: any shared substring of length
# >= w + k - 1 tokens yields at least one shared fingerprint, and
# expected fingerprint density is 2/(w+1) — a sub-linear,
# position-robust dedup index with a detection-length guarantee that
# MinHash (whole-doc similarity) does not give.


def gram_hash_array(token_hashes: Column, k: int = 4) -> Column:
    """Rolling k-gram hash array over a per-token hash array (the
    (acc*131 + h) mod p fold shared with shingle_hash_rows)."""
    p = hashing.ROLLING_PRIME
    th = token_hashes

    def gram_at(i: Column) -> Column:
        acc = F.element_at(th, i) % p
        for j in range(1, k):
            acc = (acc * 131 + F.element_at(th, i + j)) % p
        return acc

    return F.transform(
        index_1_to(F.size(th) - (k - 1)),
        gram_at,
    )


def gram_hash_array_sql(token_hashes_expr: str, k: int = 4) -> str:
    """DuckDB twin of :func:`gram_hash_array`."""
    p = hashing.ROLLING_PRIME
    acc = f"(_W[_i] % {p})"
    for j in range(1, k):
        acc = f"(({acc} * 131 + _W[_i + {j}]) % {p})"
    body = f"list_transform(range(1, greatest(len(_W) - {k - 1}, 0) + 1), _i -> {acc})"
    return body.replace("_W", f"({token_hashes_expr})")


def winnow_fingerprints(grams: Column, w: int = 4) -> Column:
    """Array of winnowed fingerprints as (pos, fp) structs over a
    MATERIALIZED gram-hash array column: per sliding window of ``w``
    consecutive gram hashes, the MINIMUM hash is selected (rightmost on
    ties, per the paper), then duplicates collapse.

    ``grams`` must be a plain column (withColumn the gram array first):
    passing a computed expression re-expands the whole gram fold at
    every one of this selector's ~6 references per window — measured
    as a multi-minute blowup in both engines' expression evaluation.

    Pure array algebra — one projection, no explode.
    """

    def pick_pos(j: Column) -> Column:
        s = F.slice(grams, j, w)
        minv = F.array_min(s)
        # rightmost occurrence of the min within the window
        last = F.lit(w + 1) - F.array_position(F.reverse(s), minv)
        return (j + last - 1).cast("bigint")

    # a selected position determines its fingerprint (the gram at that
    # position), so dedup runs on the primitive position list — struct
    # dedup is unimplemented in DuckDB's list_distinct, and this way
    # both engines dedupe the same bigint list
    positions = F.array_distinct(
        F.transform(
            index_1_to(F.size(grams) - (w - 1)),
            pick_pos,
        )
    )
    return F.transform(
        positions,
        lambda p: F.struct(
            p.alias("pos"), F.element_at(grams, p.cast("int")).alias("fp")
        ),
    )


def winnow_fingerprints_sql(grams_col: str, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`; ``grams_col`` must be
    a COLUMN NAME of a materialized gram-hash list (same blowup caveat
    as the Spark side)."""
    g = grams_col
    s = f"list_slice({g}, _j, _j + {w - 1})"
    pos = f"(_j + {w} - list_position(list_reverse({s}), list_min({s})))::BIGINT"
    return f"""
list_transform(
  list_distinct(
    list_transform(range(1, greatest(len({g}) - {w - 1}, 0) + 1), _j -> {pos})
  ),
  _p -> {{'pos': _p, 'fp': {g}[_p]}}
)"""
