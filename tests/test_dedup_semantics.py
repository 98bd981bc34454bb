"""Dedup edge semantics from SURVEY.md §7.3 — the parts that are easy
to silently get wrong in Spark (null keys, keep-first order, tie-breaks,
idempotence)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from llm_enhanced_data_pipeline_spark.operators import cleaning, dedup


def test_null_preserving_keeps_every_null_key_row(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, k="a"),
            Row(i=2, k="a"),
            Row(i=3, k=None),
            Row(i=4, k=None),
            Row(i=5, k=""),
            Row(i=6, k="b"),
        ]
    )
    out = dedup.dedup_exact_null_preserving(df, "k", [F.col("i")])
    got = sorted(r.i for r in out.collect())
    # a→keep i=1; nulls i=3,4 kept; empty i=5 kept; b→i=6
    assert got == [1, 3, 4, 5, 6]

    # contrast: bare dropDuplicates collapses the nulls (the bug the
    # operator exists to avoid)
    bare = df.dropDuplicates(["k"]).count()
    assert bare == 4


def test_union_first_wins_prefers_earlier_source(spark):
    a = spark.createDataFrame([Row(k=1, v="a1"), Row(k=2, v="a2")])
    b = spark.createDataFrame([Row(k=2, v="b2"), Row(k=3, v="b3")])
    out = dedup.union_first_wins([a, b], "k", ["k"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a1", 2: "a2", 3: "b3"}


def test_content_hash_keep_first_and_empty_exemption(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, t="Hello  World"),
            Row(i=2, t="hello world"),  # same after lower/trim? (no: inner spaces differ)
            Row(i=3, t="Hello  World"),  # exact dup of i=1
            Row(i=4, t=""),
            Row(i=5, t="  "),  # trims to same as i=4
        ]
    )
    keep_default = sorted(r.i for r in dedup.dedup_content_hash(df, "t", [F.col("i")]).collect())
    # reference semantics: empties hash equal → one survivor among {4,5}
    assert keep_default == [1, 2, 4]
    keep_exempt = sorted(
        r.i
        for r in dedup.dedup_content_hash(df, "t", [F.col("i")], keep_all_empty=True).collect()
    )
    assert keep_exempt == [1, 2, 4, 5]


def test_similarity_exact_keeps_preferred_and_is_idempotent(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, year=2020, toks=["deep", "learning", "for", "vision"]),
            Row(i=2, year=2024, toks=["deep", "learning", "for", "vision"]),  # same set, newer
            Row(i=3, year=2020, toks=["graph", "neural", "networks"]),
            Row(i=4, year=2019, toks=["completely", "different", "topic"]),
        ]
    )
    out = dedup.dedup_similarity_exact(df, "i", "toks", threshold=0.9, prefer_desc_col="year")
    got = sorted(r.i for r in out.collect())
    assert got == [2, 3, 4]  # newer year (i=2) survives the duplicate pair

    # idempotence: running dedup again removes nothing
    again = dedup.dedup_similarity_exact(out, "i", "toks", threshold=0.9, prefer_desc_col="year")
    assert sorted(r.i for r in again.collect()) == got

    # prefix filtering needs t > 0: at t = 0 disjoint sets "match"
    with pytest.raises(ValueError):
        dedup.dedup_similarity_exact(df, "i", "toks", threshold=0.0)


def _d4_corpus() -> list[tuple]:
    """(row, i, year, title) rows for the D4 differential tests. ``i`` is
    the dedup id (one null, one repeated); ``row`` identifies a row."""
    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(40)]
    specs = []
    for _ in range(40):
        # "the" opens every title: the hot-token partition
        base = ["the"] + rng.sample(vocab, rng.randint(5, 12))
        year = rng.choice([None, 2019, 2020, 2020, 2021])
        specs.append((year, " ".join(base)))
        v = rng.random()
        if v < 0.35:
            specs.append((rng.choice([None, year, 2022]), " ".join(base[:-1])))
        elif v < 0.7:
            specs.append((year, " ".join(base[:-1] + [rng.choice(vocab)])))
        else:  # repeated tokens: same set as base
            specs.append((year, "  ".join(base + base[:3]).upper()))
    for n in (5, 10, 20):  # pairs at exactly 0.8, 0.9 and 0.95
        full = ["the"] + [f"t{n}_{k}" for k in range(n - 1)]
        specs += [(2020, " ".join(full)), (2020, " ".join(full[1:])),
                  (None, " ".join(full[:-1]))]
    specs += [(2020, ""), (None, "   "), (2021, "\t \n"), (2020, "")]
    rows = [(r, r, y, t) for r, (y, t) in enumerate(specs)]
    rows[3] = (3, None, rows[3][2], rows[3][3])  # null id
    rows[9] = (9, 4, rows[9][2], rows[9][3])  # id 4 twice
    return rows


def _replay_d4(rows, threshold, prefer):
    """All-pairs Python replay of dedup_similarity_exact's rule."""
    sets = {r: set(t.lower().split()) for r, _, _, t in rows}

    def precedes(a, b):
        (_, ia, ya, _), (_, ib, yb, _) = a, b
        ids_lt = ia is not None and ib is not None and ia < ib
        if not prefer:
            return ids_lt
        pa, pb = ya or 0, yb or 0
        return pa > pb or (pa == pb and ids_lt)

    def similar(a, b):
        sa, sb = sets[a[0]], sets[b[0]]
        return (
            bool(sa) and bool(sb)
            and len(sa) * threshold <= len(sb) and len(sb) * threshold <= len(sa)
            and len(sa & sb) / len(sa | sb) >= threshold
        )

    flagged = {r[1] for r in rows for l in rows if precedes(l, r) and similar(l, r)}
    return sorted(r[0] for r in rows if r[1] is None or r[1] not in flagged)


def _d4_frame(spark, rows):
    df = spark.createDataFrame(rows, "row INT, i INT, year INT, title STRING")
    return df.withColumn("toks", cleaning.tokens(F.col("title")))


@pytest.mark.parametrize("threshold", [0.8, 0.9, 0.95])
def test_similarity_exact_matches_all_pairs_replay(spark, threshold):
    rows = _d4_corpus()
    df = _d4_frame(spark, rows)
    for prefer in ("year", None):
        got = sorted(
            r.row
            for r in dedup.dedup_similarity_exact(
                df, "i", "toks", threshold=threshold, prefer_desc_col=prefer
            ).collect()
        )
        want = _replay_d4(rows, threshold, prefer)
        assert len(want) < len(rows)
        assert got == want, (threshold, prefer)


def test_similarity_exact_survivors_independent_of_partitioning(spark):
    rows = _d4_corpus()
    want = _replay_d4(rows, 0.9, "year")
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for parts in (1, 3, 17):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            out = dedup.dedup_similarity_exact(
                _d4_frame(spark, rows), "i", "toks", threshold=0.9, prefer_desc_col="year"
            )
            assert sorted(r.row for r in out.collect()) == want, parts
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_minhash_finds_exact_jaccard_pairs(spark):
    base = ["w%d" % i for i in range(30)]
    df = spark.createDataFrame(
        [
            Row(i=1, toks=base),
            Row(i=2, toks=base[:-1] + ["novel"]),  # jaccard 29/31 ≈ 0.935
            Row(i=3, toks=["totally"] + ["other%d" % i for i in range(20)]),
        ]
    )
    pairs = dedup.near_dup_pairs_minhash(df, "i", "toks", threshold=0.9, num_hashes=16, bands=8)
    got = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert got == [(1, 2)]
    survivors = dedup.dedup_minhash_lsh(df, "i", "toks", threshold=0.9)
    assert sorted(r.i for r in survivors.collect()) == [1, 3]


def test_simhash_hamming_zero_for_identical_and_blocks_lossless(spark):
    toks = ["alpha", "beta", "gamma", "delta", "epsilon"] * 4
    df = spark.createDataFrame(
        [
            Row(i=1, toks=toks),
            Row(i=2, toks=toks),
            Row(i=3, toks=["x%d" % k for k in range(25)]),
        ]
    )
    pairs = dedup.near_dup_pairs_simhash(df, "i", "toks", max_hamming=3, blocks=4)
    got = [(r.id_a, r.id_b, r.hamming) for r in pairs.collect()]
    assert got == [(1, 2, 0)]


def test_ml_minhash_lsh_agrees_with_exact_ground_truth(spark):
    from pyspark.sql import Row

    base = ["w%d" % i for i in range(30)]
    df = spark.createDataFrame(
        [
            Row(i=1, toks=base),
            Row(i=2, toks=base[:-2] + ["x", "y"]),      # jaccard 28/32 = 0.875
            Row(i=3, toks=["z%d" % k for k in range(20)]),
            Row(i=4, toks=base[:15] + ["q%d" % k for k in range(15)]),  # ~0.33
        ]
    )
    pairs = dedup.ml_near_dup_pairs(df, "i", "toks", threshold=0.7, num_hash_tables=8)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # approxSimilarityJoin post-filters on EXACT distance → precision is
    # exact; with 8 tables the 0.875 pair is found w.h.p.
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 0.875) < 1e-6


def test_connected_components_chain_semantics(spark):
    from pyspark.sql import Row

    nodes = spark.createDataFrame([Row(i=n) for n in [1, 2, 3, 4, 5, 6]])
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)]
    )
    comps = {r.i: r.component for r in dedup.connected_components(nodes, pairs, "i").collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}

    df = nodes
    survivors = sorted(r.i for r in dedup.dedup_components(df, pairs, "i").collect())
    # chain 1-2-3 keeps only 1 (the greedy pairwise rule would also kill
    # 2 and 3 here, but on a~b, b~c with a!~c greedy keeps c; components
    # define the cluster semantics exactly)
    assert survivors == [1, 4, 5]


def test_connected_components_frees_superseded_checkpoint_blocks(spark):
    """The iterative CC loops localCheckpoint every round; superseded
    rounds' executor blocks must be freed as the loop advances (not
    accumulate until driver GC), and release_caches() must reclaim the
    final frame's blocks too. A long chain forces multiple propagation
    rounds, so a leak would show up as one extra persistent-RDD id per
    round."""
    from pyspark.sql import Row

    sc = spark.sparkContext
    jmap = lambda: set(sc._jsc.getPersistentRDDs().keys())  # noqa: E731

    nodes = spark.createDataFrame([Row(i=n) for n in range(1, 13)])
    # single chain 1-2-...-12: diameter 11 -> many label-propagation rounds
    pairs = spark.createDataFrame([Row(id_a=n, id_b=n + 1) for n in range(1, 12)])

    for fn in (dedup.connected_components, dedup.connected_components_star):
        before = jmap()
        comps = {r.i: r.component for r in fn(nodes, pairs, "i").collect()}
        assert comps == {n: 1 for n in range(1, 13)}
        # live after the run: the persisted edge frame + the final
        # checkpointed frame only — one id each, never one per round
        leaked = jmap() - before
        assert len(leaked) <= 2, f"{fn.__name__} leaked blocks: {leaked}"
        dedup.release_caches()
        assert jmap() - before == set(), f"{fn.__name__} survived release_caches"


def test_connected_components_reliable_checkpoint_mode_identical(spark, sf_dir, tmp_path):
    """Production fault-tolerance knob: inside
    dedup.reliable_checkpoints the CC loops swap localCheckpoint for
    reliable DFS checkpoints (each round survives executor loss). Both
    modes must converge to IDENTICAL components on the sf0.01 near-dup
    graph, the reliable run must actually write checkpoint files, and
    the session's checkpoint-dir setting must be restored afterwards
    (including the unset state)."""
    import os

    from llm_enhanced_data_pipeline_spark.queries import dedup_q

    pairs = dedup_q.build_shared_minhash_index(spark, sf_dir)
    nodes = dedup_q._minhash_corpus(spark, sf_dir).select("doc_id")

    for fn in (dedup.connected_components, dedup.connected_components_star):
        local = {
            (r.doc_id, r.component) for r in fn(nodes, pairs, "doc_id").collect()
        }
        ckpt_dir = str(tmp_path / f"ckpt_{fn.__name__}")
        assert spark.sparkContext.getCheckpointDir() is None
        with dedup.reliable_checkpoints(spark, ckpt_dir):
            assert spark.sparkContext.getCheckpointDir() is not None
            reliable = {
                (r.doc_id, r.component)
                for r in fn(nodes, pairs, "doc_id").collect()
            }
        assert spark.sparkContext.getCheckpointDir() is None  # restored
        assert reliable == local
        # the reliable run must have materialized rounds to the dir
        n_files = sum(len(fs) for _, _, fs in os.walk(ckpt_dir))
        assert n_files > 0, f"{fn.__name__} wrote no reliable checkpoints"
    dedup.release_caches()


def test_ivf_embedding_near_dup_matches_exact_and_avoids_cartesian(spark):
    """The IVF-bucketed scale path must (a) find the same pairs as the
    all-pairs ground truth on a clustered corpus, and (b) generate
    candidates through an equi-join — the embeddings table must never
    self-join as a cartesian/theta product."""
    from pyspark.sql import Row

    from llm_enhanced_data_pipeline_spark.operators import vector

    # Two tight clusters around orthogonal axes + one stray vector.
    def vec(base, eps):
        return [round(b + eps * 0.01, 3) for b in base]

    a_axis = [1.0, 0.0, 0.0, 0.0]
    b_axis = [0.0, 1.0, 0.0, 0.0]
    rows = [
        Row(vec_id=i, label=f"a", embedding=vec(a_axis, i)) for i in range(3)
    ] + [
        Row(vec_id=10 + i, label=f"b", embedding=vec(b_axis, i)) for i in range(3)
    ] + [Row(vec_id=99, label="c", embedding=[0.5, 0.5, 0.5, 0.5])]
    df = spark.createDataFrame(rows)

    cents = vector.centroids_by_key(df, "label", "embedding")
    got = dedup.near_dup_pairs_embedding_ivf(
        df, cents, "vec_id", "embedding", threshold=0.95, nprobe=2
    )
    exact = dedup.near_dup_pairs_embedding(df, "vec_id", "embedding", threshold=0.95)
    assert sorted((r.id_a, r.id_b) for r in got.collect()) == sorted(
        (r.id_a, r.id_b) for r in exact.collect()
    )

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_release_caches_reclaims_tracked_intermediates(spark):
    from pyspark.sql import Row

    dedup.release_caches()  # start clean
    df = spark.createDataFrame(
        [Row(i=k, toks=[f"t{j}" for j in range(k, k + 20)]) for k in range(6)]
    )
    dedup.near_dup_pairs_minhash(df, "i", "toks", threshold=0.5).collect()
    dedup.near_dup_pairs_simhash(df, "i", "toks").collect()
    released = dedup.release_caches()
    assert released >= 2
    assert dedup.release_caches() == 0


def _union_find_components(node_ids, edges):
    """Driver-side ground truth: min reachable id per node."""
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in node_ids}


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star must produce the identical component map as
    a driver-side union-find on adversarial shapes: a long chain (the
    O(diameter) case star contraction exists for), cliques, and random
    sparse graphs.  The chain's diameter (60) far exceeds the star
    iteration cap (12) — convergence must come from contraction, not
    from propagation rounds."""
    import random

    from pyspark.sql import Row

    rng = random.Random(23)
    chain = [(i, i + 1) for i in range(60)]  # diameter 60
    clique = [(100 + a, 100 + b) for a in range(8) for b in range(a + 1, 8)]
    rand = [
        (200 + rng.randrange(40), 200 + rng.randrange(40)) for _ in range(50)
    ]
    edges = [(a, b) for a, b in chain + clique + rand if a != b]
    node_ids = sorted({n for e in edges for n in e} | {999})  # 999 isolated
    nodes = spark.createDataFrame([Row(doc_id=n) for n in node_ids])
    pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])

    expected = set(_union_find_components(node_ids, edges).items())
    star = {
        (r["doc_id"], r["component"])
        for r in dedup.connected_components_star(nodes, pairs, "doc_id").collect()
    }
    assert star == expected
    assert (999, 999) in star  # isolated node keeps its own label


def test_dedup_against_index_drops_recrawls_and_intra_batch_dups(spark):
    snapshot = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id BIGINT, text STRING"
    )
    index = dedup.content_index(snapshot, "text")
    batch = spark.createDataFrame(
        [
            (10, "gamma text"),        # genuinely new -> survives
            (11, "Alpha   Text"),      # recrawl (hash-normalized) -> dropped
            (12, "gamma text"),        # intra-batch dup of 10 -> dropped
            (13, "delta text"),        # new -> survives
        ],
        "doc_id BIGINT, text STRING",
    )
    # content_hash lower+trims but does not collapse inner whitespace;
    # make the recrawl an exact normalized match:
    batch = batch.replace("Alpha   Text", "ALPHA TEXT")
    out = dedup.dedup_against_index(batch, index, "text", ["doc_id"])
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 13]


def test_content_index_is_distinct_fingerprints_only(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id BIGINT, text STRING"
    )
    idx = dedup.content_index(df, "text")
    assert idx.columns == ["fp"]
    assert idx.count() == 2


def test_bloom_index_no_false_negatives_and_small_m_false_positives(spark):
    snap = spark.createDataFrame(
        [(f"doc body {i}",) for i in range(40)], "text STRING"
    )
    idx_rows = dedup.content_index(snap, "text")
    # tiny filter (2 words = 124 bits) -> saturated -> false positives
    # appear, but inserted fingerprints MUST all still hit
    tiny = dedup.bloom_index(idx_rows, "fp", m_bits=124, k=4)
    batch = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(40)]  # all true dups
        + [(100 + i, f"fresh {i}") for i in range(60)],  # all new
        "doc_id BIGINT, text STRING",
    ).withColumn("fp", dedup.content_hash(F.col("text")))
    out = dedup.bloom_might_contain(
        batch.select("doc_id", "fp"), tiny, "fp", m_bits=124, k=4
    ).collect()
    dups = [r for r in out if r["doc_id"] < 100]
    assert all(r["maybe_dup"] for r in dups)  # no false negatives, ever
    # a roomy filter keeps false positives near zero
    roomy = dedup.bloom_index(idx_rows, "fp", m_bits=1 << 14, k=4)
    out2 = dedup.bloom_might_contain(
        batch.select("doc_id", "fp"), roomy, "fp", m_bits=1 << 14, k=4
    ).collect()
    assert all(r["maybe_dup"] for r in out2 if r["doc_id"] < 100)
    assert sum(1 for r in out2 if r["doc_id"] >= 100 and r["maybe_dup"]) == 0


def test_bloom_prefilter_composes_with_exact_anti_join(spark):
    """The production composition: Bloom pre-filter routes 'definitely
    new' rows straight through; only maybe_dup rows pay the exact
    anti-join — and the final result equals the unfiltered exact path."""
    snap = spark.createDataFrame(
        [(i, f"snapshot doc {i}") for i in range(30)], "doc_id BIGINT, text STRING"
    )
    index = dedup.content_index(snap, "text")
    bloom = dedup.bloom_index(index, "fp", m_bits=1 << 12, k=4)
    batch = spark.createDataFrame(
        [(200 + i, f"snapshot doc {i}") for i in range(10)]  # re-crawls
        + [(300 + i, f"new doc {i}") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    exact = dedup.dedup_against_index(batch, index, "text", ["doc_id"])
    keyed = batch.withColumn("fp", dedup.content_hash(F.col("text")))
    flagged = dedup.bloom_might_contain(keyed, bloom, "fp", m_bits=1 << 12, k=4)
    fast_path = flagged.filter(~F.col("maybe_dup")).drop("maybe_dup")
    slow_path = dedup.dedup_against_index(
        flagged.filter(F.col("maybe_dup")).drop("maybe_dup", "fp"),
        index,
        "text",
        ["doc_id"],
    ).drop("_fp")
    composed = fast_path.select("doc_id").unionByName(slow_path.select("doc_id"))
    assert sorted(r["doc_id"] for r in composed.collect()) == sorted(
        r["doc_id"] for r in exact.select("doc_id").collect()
    )


def test_dedup_components_keep_best_policy(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, score=s) for i, s in [(1, 0.2), (2, 0.9), (3, 0.5), (9, 0.1)]]
    )
    pairs = spark.createDataFrame([Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)])
    out = dedup.dedup_components_keep_best(
        docs, pairs, "doc_id", [F.col("score").desc(), F.col("doc_id")]
    )
    rows = {r["doc_id"]: r["component"] for r in out.collect()}
    # cluster {1,2,3}: highest score (doc 2) survives; isolated 9 stays
    assert rows == {2: 1, 9: 9}


def test_semdedup_keeps_most_atypical_member_of_dup_group(spark):
    """SemDeDup keep-order: within a duplicate group the survivor is the
    member with the LOWEST centroid similarity (the paper keeps the most
    atypical example); singletons always survive."""
    # k=1 (seed = vec of id 0) => everything lands in one cluster.
    # v0/v1 point the same way (cos=1); v2 is orthogonal to both.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = dedup.semdedup_survivors(
        df, "vec_id", "embedding", k=1, iters=1, tau=0.9
    )
    got = {r.vec_id: r for r in out.collect()}
    # centroid = int-mean of all three; v0 and v1 are parallel, so they
    # share one centroid_sim value -> tie-break keeps the smaller id.
    assert 2 in got  # orthogonal singleton survives
    assert sorted(got) == [0, 2]

    # Same corpus, lower-sim duplicate pair: survivor must be the member
    # FARTHER from the centroid, not the smaller id.
    rows2 = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # closer to centroid
        (1, [1.0, 0.4, 0.0, 0.0]),   # same direction-ish, farther out
        (2, [0.0, 0.0, 1.0, 0.0]),
    ]
    df2 = spark.createDataFrame(rows2, "vec_id: long, embedding: array<float>")
    out2 = dedup.semdedup_survivors(
        df2, "vec_id", "embedding", k=1, iters=1, tau=0.9
    )
    ids2 = sorted(r.vec_id for r in out2.collect())
    sims = {r.vec_id: r.centroid_sim for r in out2.select(
        "vec_id", "centroid_sim").collect()}
    assert 2 in ids2 and len(ids2) == 2
    kept_pair_member = [i for i in ids2 if i != 2][0]
    # the kept member of the dup pair is the lower-centroid-sim one
    dropped_member = 1 - kept_pair_member
    base_sims = {
        r.vec_id: r.centroid_sim
        for r in dedup.semdedup_survivors(
            df2, "vec_id", "embedding", k=1, iters=1, tau=2.0  # no drops
        ).collect()
    }
    assert base_sims[kept_pair_member] <= base_sims[dropped_member]


def test_semdedup_partitions_survivors_plus_dropped(spark, sf_dir):
    """Survivors + dropped partition the corpus, and raising tau only
    grows the survivor set (monotonicity)."""
    from llm_enhanced_data_pipeline_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).limit(120)
    lo = dedup.semdedup_survivors(emb, "vec_id", "embedding", k=4, iters=1, tau=0.3)
    hi = dedup.semdedup_survivors(emb, "vec_id", "embedding", k=4, iters=1, tau=0.6)
    n, n_lo, n_hi = emb.count(), lo.count(), hi.count()
    assert n_lo <= n_hi <= n
    lo_ids = {r.vec_id for r in lo.collect()}
    hi_ids = {r.vec_id for r in hi.collect()}
    assert lo_ids <= hi_ids


def test_near_dup_against_index_flags_only_index_matches(spark):
    """Incremental near-dup contract: a batch doc near-identical to a
    SNAPSHOT doc is flagged; a novel batch doc is not; two batch docs
    duplicating each other (but nothing in the snapshot) are NOT
    flagged — in-batch dedup is a separate stage by contract."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    snap_rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="one two three four five six seven eight nine ten"),
    ]
    batch_rows = [
        # near-identical to snapshot doc 1 (one trailing token changes)
        Row(doc_id=10, text=base + " lambda"),
        # novel content
        Row(doc_id=11, text="red orange yellow green blue indigo violet pink"),
        # mutual in-batch duplicates, absent from the snapshot
        Row(doc_id=12, text="do re mi fa sol la ti do re mi fa sol"),
        Row(doc_id=13, text="do re mi fa sol la ti do re mi fa sol"),
    ]
    snap = spark.createDataFrame(snap_rows).withColumn(
        "toks", dedup.tokens(F.col("text"))
    )
    batch = spark.createDataFrame(batch_rows).withColumn(
        "toks", dedup.tokens(F.col("text"))
    )
    snap_g = dedup.minhash_grouped(snap, "doc_id", "toks", shingle_n=3)
    batch_g = dedup.minhash_grouped(batch, "doc_id", "toks", shingle_n=3)
    index = dedup.minhash_index(snap_g, "doc_id")
    got = {
        r.doc_id: (r.n_matches, r.is_dup)
        for r in dedup.near_dup_against_index(
            batch_g, index, "doc_id", threshold=0.8
        ).collect()
    }
    assert got[10] == (1, True)
    assert got[11] == (0, False)
    assert got[12] == (0, False)
    assert got[13] == (0, False)
    dedup.release_caches()


def test_containment_catches_subset_docs_jaccard_misses(spark):
    """A short doc fully pasted inside a much longer one: containment
    1.0 but Jaccard well under any useful threshold."""
    small = "alpha beta gamma delta epsilon zeta".split()
    filler = [f"w{i}" for i in range(40)]
    big = filler[:20] + small + filler[20:]
    df = spark.createDataFrame(
        [Row(doc_id=1, toks=small), Row(doc_id=2, toks=big)]
    )
    pairs = dedup.containment_pairs(df, "doc_id", "toks", threshold=0.8).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in pairs] == [(1, 2, 1.0)]

    jac = dedup.near_dup_pairs_minhash(
        df, "doc_id", "toks", threshold=0.8, shingle_n=3
    ).collect()
    assert jac == []  # symmetric Jaccard cannot see the subset
    dedup.release_caches()


def test_containment_prefix_filter_equals_naive_on_random_corpus(spark):
    import random

    rng = random.Random(59)
    vocab = [f"w{j}" for j in range(30)]
    docs = {
        did: [rng.choice(vocab) for _ in range(rng.randrange(4, 25))]
        for did in range(40)
    }
    # engineered subset structure: contiguous slices of larger docs
    # (plus random noise docs above) so true containment pairs exist
    for i, src in enumerate(d for d in range(40) if len(docs[d]) >= 12):
        if i >= 6:
            break
        docs[100 + i] = docs[src][2:10]
    df = spark.createDataFrame([Row(doc_id=d, toks=t) for d, t in docs.items()])
    got = {
        (r.id_a, r.id_b)
        for r in dedup.containment_pairs(
            df, "doc_id", "toks", threshold=0.6, shingle_n=3
        ).collect()
    }

    def shingles(toks):
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {d: shingles(t) for d, t in docs.items() if len(t) >= 3}
    naive = {
        (a, b)
        for a in sh
        for b in sh
        if a != b and len(sh[a] & sh[b]) / len(sh[a]) >= 0.6
    }
    assert got == naive and len(naive) > 0
    dedup.release_caches()


def test_containment_prefix_size_exact_at_integral_boundary(spark):
    """Lemma boundary: |A| = 5 shingles, threshold 0.8 -> the prefix
    must be 2 shingles (float (1-0.8)*5 = 0.999... would truncate it
    to 1 and lose this true pair: B misses exactly A's RAREST
    shingle, and containment is exactly 4/5 = 0.8)."""
    a = ["t1", "t2", "t3", "t4", "t5", "t6", "t7"]  # 5 distinct 3-shingles
    b = a[1:]  # shares shingles 2..5; misses the df=1 first shingle
    df = spark.createDataFrame([Row(doc_id=1, toks=a), Row(doc_id=2, toks=b)])
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            df, "doc_id", "toks", threshold=0.8, shingle_n=3
        ).collect()
    }
    assert pairs[(1, 2)] == 0.8  # A 80%-contained in B, found via prefix
    assert (2, 1) in pairs  # B fully contained in A
    dedup.release_caches()


def test_winnowing_matches_python_reference_and_guarantee(spark):
    """Winnowing (SIGMOD'03) semantics: (a) the Spark selector equals
    an independent Python implementation of the algorithm on random
    token sequences; (b) the paper's guarantee holds — two docs sharing
    a token run of length >= w + k - 1 share at least one fingerprint
    HASH, while disjoint-vocabulary docs share none."""
    import random

    from llm_enhanced_data_pipeline_spark.functions import hashing as H

    k, w = 4, 4
    P = H.ROLLING_PRIME

    def py_token_hash(t):
        import hashlib

        return int(hashlib.md5(f"0:{t}".encode()).hexdigest()[:8], 16)

    def py_winnow(toks):
        th = [py_token_hash(t) for t in toks]
        grams = []
        for i in range(len(th) - k + 1):
            acc = th[i] % P
            for j in range(1, k):
                acc = (acc * 131 + th[i + j]) % P
            grams.append(acc)
        sel = []
        for j in range(len(grams) - w + 1):
            win = grams[j : j + w]
            m = min(win)
            # rightmost min in window, 1-based global gram position
            last = max(idx for idx, v in enumerate(win) if v == m)
            sel.append((j + last + 1, m))
        out, seen = [], set()
        for p_, f_ in sel:
            if p_ not in seen:
                seen.add(p_)
                out.append((p_, f_))
        return out

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = [[rng.choice(vocab) for _ in range(rng.randint(8, 40))] for _ in range(25)]
    # short docs below the gram window (k) and the winnow guarantee
    # length (w + k - 1): Spark's sequence(1, 0) is the DESCENDING
    # [1, 0], so an unguarded index array crashes element_at with
    # INVALID_INDEX_OF_ZERO on any of these
    docs += [[rng.choice(vocab) for _ in range(n)] for n in range(1, 8)]

    df = spark.createDataFrame(
        [Row(i=i, text=" ".join(d)) for i, d in enumerate(docs)]
    )
    staged = df.withColumn(
        "_h",
        F.transform(F.split(F.col("text"), " "), lambda t: dedup.hashing.stable_hash32(t)),
    ).withColumn("_g", dedup.gram_hash_array(F.col("_h"), k=k))
    got = {
        r.i: [(s["pos"], s["fp"]) for s in r.fps]
        for r in staged.select(
            "i", dedup.winnow_fingerprints(F.col("_g"), w=w).alias("fps")
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == py_winnow(d), f"doc {i}"

    # guarantee: a shared run of w + k - 1 = 7 tokens -> shared fp hash
    shared_run = [f"s{i}" for i in range(7)]
    a = [f"a{i}" for i in range(6)] + shared_run + [f"a{9+i}" for i in range(5)]
    b = [f"b{i}" for i in range(4)] + shared_run + [f"b{9+i}" for i in range(8)]
    fa = {f for _, f in py_winnow(a)}
    fb = {f for _, f in py_winnow(b)}
    assert fa & fb, "guarantee violated: no shared fingerprint"
    # disjoint vocabularies share nothing
    c = [f"c{i}" for i in range(20)]
    assert not (fa & {f for _, f in py_winnow(c)})


def test_reliable_checkpoints_restores_prior_dir_and_nests(spark, tmp_path):
    """The context manager must restore whatever checkpoint-dir state
    it found: a pre-existing dir comes back after exit (not reset to
    None), and nested scopes unwind level by level."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    outer = str(tmp_path / "outer_ckpt")
    inner = str(tmp_path / "inner_ckpt")
    with dedup.reliable_checkpoints(spark, outer):
        outer_dir = sc.getCheckpointDir()
        assert "outer_ckpt" in outer_dir
        with dedup.reliable_checkpoints(spark, inner):
            assert "inner_ckpt" in sc.getCheckpointDir()
        # back to the OUTER dir, not to None
        assert sc.getCheckpointDir() == outer_dir
    assert sc.getCheckpointDir() is None


def test_short_doc_windows_are_empty_not_descending(spark):
    """Regression: Spark's sequence(1, greatest(n, 0)) yields the
    DESCENDING [1, 0] when n == 0 (sequence auto-steps -1), so every
    rolling-window index built that way crashed element_at/slice with
    INVALID_INDEX_OF_ZERO on docs shorter than the window. DuckDB's
    range(1, n + 1) is empty, so the twins also diverged. index_1_to
    restores range() semantics; short docs now yield empty windows on
    both engines (ADVICE r6, high)."""
    from llm_enhanced_data_pipeline_spark.operators import text_analysis

    rows = [
        Row(doc_id=i, toks=["tok%d" % j for j in range(n)])
        for i, n in enumerate([0, 1, 2, 3, 4, 7, 8])
    ]
    df = spark.createDataFrame(rows)

    # word_shingles(n=3): docs with < 3 tokens -> empty shingle list
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", dedup.word_shingles(F.col("toks"), 3).alias("s")
        ).collect()
    }
    assert got[0] == [] and got[1] == [] and got[2] == []
    assert len(got[3]) == 1 and len(got[6]) == 6

    # gram_hash_array(k=4) + winnow_fingerprints(w=4): < k tokens ->
    # no grams; < w + k - 1 tokens -> grams but no fingerprints
    staged = df.withColumn(
        "_h", F.transform(F.col("toks"), dedup.hashing.stable_hash32)
    ).withColumn("_g", dedup.gram_hash_array(F.col("_h"), k=4))
    wf = {
        r.doc_id: (r.ng, len(r.fps))
        for r in staged.select(
            "doc_id",
            F.size("_g").alias("ng"),
            dedup.winnow_fingerprints(F.col("_g"), w=4).alias("fps"),
        ).collect()
    }
    assert wf[0] == (0, 0) and wf[3] == (0, 0)  # 0 and 3 tokens: no grams
    assert wf[4] == (1, 0)  # 4 tokens: one gram, below the w window
    assert wf[5] == (4, 1)  # 7 = w + k - 1 tokens: first fingerprint
    assert wf[6][1] >= 1

    # bigram_logprob_scores: docs with < 2 tokens keep a zero-bigram
    # row with NULL avg_logprob (the docstring's contract)
    bl = {
        r.doc_id: (r.n_bigrams, r.avg_logprob)
        for r in text_analysis.bigram_logprob_scores(
            df, "doc_id", "toks"
        ).collect()
    }
    assert len(bl) == len(rows)
    assert bl[0] == (0, None) and bl[1] == (0, None)
    assert bl[2][0] == 1 and bl[2][1] is not None

    # BPE symbol init: the empty word degrades to just the EOW marker
    from llm_enhanced_data_pipeline_spark.operators import bpe

    sym = (
        spark.createDataFrame([Row(w=""), Row(w="ab")])
        .select(bpe.init_symbols(F.col("w")).alias("s"))
        .collect()
    )
    assert sorted(r.s for r in sym) == ["  </w> ", " a b </w> "]


def test_semdedup_auto_k_scaling_regime(spark, sf_dir):
    """Auto-k (k=None) derives k ~ n / target so cluster fill stays
    constant as the corpus grows — the arXiv:2303.09540 regime that
    keeps the in-cluster quadratic prune linear. Fixed-k mode stays
    bit-identical for the oracle gate."""
    assert dedup.semdedup_auto_k(0) == 1
    assert dedup.semdedup_auto_k(64) == 1
    assert dedup.semdedup_auto_k(65) == 2
    assert dedup.semdedup_auto_k(10_000_000, 64) == 156_250
    # 100x the corpus -> 100x the clusters, constant fill
    assert dedup.semdedup_auto_k(1_000_000_000, 64) == 100 * dedup.semdedup_auto_k(
        10_000_000, 64
    )

    from llm_enhanced_data_pipeline_spark.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    out = dedup.semdedup_survivors(
        emb, "vec_id", "embedding", k=None, iters=1, target_cluster_size=100
    )
    got = out.collect()
    assert 0 < len(got) <= n
    # the derived k bounds the cluster ids actually assigned
    k = dedup.semdedup_auto_k(n, 100)
    assert all(0 <= r.cluster < k for r in got)
    dedup.release_caches()
