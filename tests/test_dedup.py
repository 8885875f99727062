"""Dedup operator semantics on a tiny corpus with known structure."""

from pyspark.sql import functions as F

from vptstools_spark.operators.dedup import (
    duplicate_spans,
    exact_dedup_stats,
    jaccard_pairs,
    jaccard_verify,
    lsh_candidates,
    minhash_signatures,
    shingles,
    simhash16,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different words entirely here now"),
    (3, "The quick brown fox jumps over the lazy dog"),   # exact dup of 0 mod case
    (4, "short"),                                          # < 3 tokens → no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    row = exact_dedup_stats(_docs(spark)).collect()[0]
    # doc 0 and 3 collapse after lower(): 4 groups, 5 docs, 1 duplicate
    assert (row["n_groups"], row["n_docs"], row["n_duplicates"]) == (4, 5, 1)


def test_shingles(spark):
    sh = shingles(_docs(spark), k=3)
    per_doc = {r["id"]: r["cnt"] for r in sh.groupBy("id").agg(F.count("*").alias("cnt")).collect()}
    assert per_doc[0] == 7  # 9 tokens → 7 trigrams, all distinct
    assert 4 not in per_doc  # no shingles for 1-token doc


def test_jaccard_finds_near_dup(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             jaccard_pairs(shingles(_docs(spark), k=3), threshold=0.5).collect()}
    assert (0, 1) in pairs
    assert 0.5 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_minhash_lsh_candidates(spark):
    sh = shingles(_docs(spark), k=3)
    sigs = minhash_signatures(sh, num_hashes=8)
    assert sigs.count() == 4  # docs with ≥1 shingle
    cands = {(r["doc_a"], r["doc_b"]) for r in lsh_candidates(sigs, 8, 2).collect()}
    # 0 vs 1 share 6/8 shingles → high minhash agreement → expected candidate
    assert (0, 1) in cands
    assert (0, 2) not in cands


def test_simhash_deterministic_and_near(spark):
    sigs = {r["id"]: r["simhash16"] for r in simhash16(_docs(spark)).collect()}
    assert len(sigs) == 5
    assert all(len(s) == 16 and set(s) <= {"0", "1"} for s in sigs.values())
    # identical-modulo-case docs don't share simhash (md5 of cased tokens),
    # but re-running is bit-identical (determinism)
    sigs2 = {r["id"]: r["simhash16"] for r in simhash16(_docs(spark)).collect()}
    assert sigs == sigs2
    ham01 = sum(a != b for a, b in zip(sigs[0], sigs[1]))
    ham02 = sum(a != b for a, b in zip(sigs[0], sigs[2]))
    assert ham01 <= ham02  # near-dup at least as close as unrelated doc


def test_duplicate_spans_counts(spark):
    # k=4 over doc 0's 6 windows: doc 1 shares windows 1-5 (diverges at
    # "...dog"→"...cat"), doc 3 shares windows 2-6 (its window 1 carries the
    # cased "The"), so 6 spans have df>1 across docs {0,1,3}; doc 4 is
    # shorter than k and contributes nothing
    row = duplicate_spans(_docs(spark), k=4).collect()[0]
    assert row["n_dup_spans"] == 6
    assert row["n_affected_docs"] == 3
    # distinct: doc0 6, doc1 adds its cat-window, doc3 adds its The-window,
    # doc2 adds 3 from its 6 tokens
    assert row["n_distinct_spans"] == 11


def test_duplicate_spans_short_docs_are_empty(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "a b c")], "doc_id long, text string")
    row = duplicate_spans(df, k=8).collect()[0]
    assert (row["n_distinct_spans"], row["n_dup_spans"], row["n_affected_docs"]) == (0, 0, 0)


def test_jaccard_verify_matches_exact_on_candidates(spark):
    sh = shingles(_docs(spark), k=3)
    sigs = minhash_signatures(sh, 8)
    cands = lsh_candidates(sigs, 8, 2)
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(sh, cands, threshold=0.0).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(sh, threshold=0.0).collect()
    }
    # every verified candidate's jaccard equals the exact pairwise value
    for pair, j in verified.items():
        assert exact[pair] == j


def test_dedup_keep_best_argmax_and_ties(spark):
    from vptstools_spark.operators.dedup import dedup_keep_best

    # one group of 3 copies: scores 5, 9, 9 → keep id 2 (high score,
    # lowest id on the tie); one singleton
    d = spark.createDataFrame(
        [
            (1, "same text", 5),
            (2, "same text", 9),
            (3, "same text", 9),
            (4, "unique", 1),
        ],
        "doc_id long, text string, q long",
    )
    kept = {
        r["kept_id"]: r
        for r in dedup_keep_best(d, F.col("q")).collect()
    }
    assert set(kept) == {2, 4}
    assert kept[2]["n_copies"] == 3 and kept[2]["kept_score"] == 9


# ---------------------------------------------------------------------------
# incremental LSH registry
# ---------------------------------------------------------------------------


def _ilsh_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_lsh_rejects_cross_run_neardups(spark, tmp_path):
    from vptstools_spark.operators.dedup import incremental_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    b0 = _ilsh_docs(spark, [(1, base), (2, "completely different words here about spark engines")])
    # doc 11 is a near-dup of admitted doc 1 (one token changed);
    # doc 12 is fresh
    b1 = _ilsh_docs(spark, [
        (11, base.replace("dog", "cat")),
        (12, "unrelated third text with its own vocabulary entirely"),
    ])
    reg = str(tmp_path / "reg")
    a0, r0 = incremental_lsh_dedup(spark, reg, b0, threshold=0.5)
    assert r0["n_admitted"] == 2
    a1, r1 = incremental_lsh_dedup(spark, reg, b1, threshold=0.5)
    assert r1["n_rejected"] == 1 and r1["n_admitted"] == 1
    assert [r.doc_id for r in a1.collect()] == [12]


def test_incremental_lsh_empty_first_batch(spark, tmp_path):
    """A statically empty first batch (empty local relation, ``limit(0)``)
    reports zero counts instead of failing to read its Observation, and the
    registry it leaves admits the next batch as a first one."""
    from vptstools_spark.operators.dedup import incremental_lsh_dedup

    zeros = dict.fromkeys(
        ["n_batch", "n_seen_ids", "n_candidate_pairs", "n_rejected", "n_admitted"], 0
    )
    docs = [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")]
    for i, empty in enumerate([_ilsh_docs(spark, []), _ilsh_docs(spark, docs).limit(0)]):
        reg = str(tmp_path / f"reg{i}")
        a, r = incremental_lsh_dedup(spark, reg, empty)
        assert r == zeros and a.count() == 0
    a, r = incremental_lsh_dedup(spark, reg, _ilsh_docs(spark, docs))
    assert (r["n_rejected"], r["n_admitted"]) == (1, 1)
    assert [row.doc_id for row in a.collect()] == [1]


def test_incremental_lsh_replay_admits_nothing(spark, tmp_path):
    from vptstools_spark.operators.dedup import incremental_lsh_dedup

    b = _ilsh_docs(spark, [(1, "alpha beta gamma delta epsilon zeta"),
                           (2, "one two three four five six seven")])
    reg = str(tmp_path / "reg")
    incremental_lsh_dedup(spark, reg, b)
    a, r = incremental_lsh_dedup(spark, reg, b)
    assert r["n_seen_ids"] == 2 and r["n_admitted"] == 0
    assert a.count() == 0


def test_incremental_lsh_registry_stores_no_text(spark, tmp_path):
    from vptstools_spark.operators.dedup import incremental_lsh_dedup
    from vptstools_spark.plans.timetravel import read_version

    b = _ilsh_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    reg = str(tmp_path / "reg")
    incremental_lsh_dedup(spark, reg, b)
    bands = read_version(spark, str(tmp_path / "reg" / "bands"))
    sh = read_version(spark, str(tmp_path / "reg" / "shingles"))
    assert set(bands.columns) == {"id", "band_id", "bh"}
    assert set(sh.columns) == {"id", "sh"}
    # derived state only: no string column carries source text
    assert all(t != "string" or c == "bh" for c, t in bands.dtypes)
    assert dict(sh.dtypes)["sh"] == "bigint"


def test_incremental_lsh_rejected_doc_leaves_no_state(spark, tmp_path):
    """A shard-2 doc similar only to a shard-1 REJECT must be admitted:
    rejects leave no registry state (the oracle replays this too)."""
    from vptstools_spark.operators.dedup import incremental_lsh_dedup
    from vptstools_spark.plans.timetravel import read_version

    t = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    b0 = _ilsh_docs(spark, [(1, t), (2, t)])  # 2 rejected (dup of 1)
    b1 = _ilsh_docs(spark, [(11, t)])         # dup of 1 → rejected
    reg = str(tmp_path / "reg")
    _, r0 = incremental_lsh_dedup(spark, reg, b0)
    assert r0["n_rejected"] == 1
    _, r1 = incremental_lsh_dedup(spark, reg, b1)
    assert r1["n_rejected"] == 1
    assert read_version(
        spark, str(tmp_path / "reg" / "bands")
    ).select("id").distinct().count() == 1


def test_containment_catches_subset_jaccard_misses(spark):
    from pyspark.sql import functions as F

    from vptstools_spark.operators.dedup import jaccard_pairs, shingles

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    sh = shingles(df, k=3)
    cont = jaccard_pairs(sh, threshold=0.9, measure="containment").collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    # Jaccard at the same bar misses the embedding entirely
    assert jaccard_pairs(sh, threshold=0.9).count() == 0


def test_containment_replica_collapse_expansion(spark):
    from vptstools_spark.operators.dedup import jaccard_pairs, shingles

    t = "one two three four five six"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, t + " seven eight nine ten eleven twelve")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in jaccard_pairs(
            shingles(df, k=3), threshold=0.9, measure="containment"
        ).collect()
    }
    # identical pair exactly 1.0; both replicas pair with the superset
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and (2, 3) in got
    assert got[(1, 3)] == got[(2, 3)] == 1.0


def _brute_pairs(texts, k, threshold, measure):
    """Reference: all-pairs shingle similarity in plain Python."""
    sets = {}
    for i, t in texts:
        toks = t.split(" ") if t else []
        if len(toks) >= k:
            sets[i] = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
    out = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            c = len(a & b)
            denom = len(a | b) if measure == "jaccard" else min(len(a), len(b))
            s = c / denom if denom else 0.0
            if s >= threshold:
                out.append((ids[x], ids[y], round(s, 4)))
    return sorted(out)


def test_bitmask_route_matches_bruteforce(spark):
    """A corpus whose SHARED-shingle domain is <= 63 takes the bitmask
    route (bit_count over per-doc masks); the pairs must equal the
    all-pairs reference exactly — the router must never change answers."""
    from vptstools_spark.operators.dedup import jaccard_pairs, shingles

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        (1, base),
        (2, base + " tonight"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different words forming another sentence entirely here"),
        (5, "completely different words forming another sentence entirely"),
        (6, "one two"),  # < k tokens: no shingles, pairs with nothing
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sh = shingles(df, k=3)
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(sh, threshold=0.3).collect()
    )
    assert got == _brute_pairs(texts, 3, 0.3, "jaccard")


def test_bitmask_route_broadcast_gated_by_doc_count(spark):
    """A tiny SHARED-shingle domain does not bound the doc count: when
    the masked-doc count exceeds the broadcast bound, the router must
    fall back to the shuffled equi-join (no BroadcastNestedLoopJoin in
    the plan) and still return identical pairs (VERDICT r7 #2)."""
    from vptstools_spark.operators.dedup import jaccard_pairs, shingles

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        (1, base),
        (2, base + " tonight"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different words forming another sentence entirely here"),
        (5, "completely different words forming another sentence entirely"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sh = shingles(df, k=3)
    gated = jaccard_pairs(sh, threshold=0.3, bitmask_max_docs=2)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in gated.collect()
    )
    assert got == _brute_pairs(texts, 3, 0.3, "jaccard")


def test_near_dup_pairs_matches_shingle_table_path(spark):
    """near_dup_pairs (text collapse hoisted above shingling) must emit
    pair-for-pair what jaccard_pairs(shingles(docs)) emits, replicas and
    sub-k-token docs included, for both measures."""
    from vptstools_spark.operators.dedup import (
        jaccard_pairs,
        near_dup_pairs,
        shingles,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # exact copy of 1
        (3, "alpha beta gamma delta epsilon"),            # near-dup
        (4, "unrelated totally different text body here"),
        (5, "alpha beta gamma delta epsilon zeta"),      # another copy
        (6, "tiny doc"),                                  # no 3-shingles
        (7, "tiny doc"),                                  # exact copy, still no pairs
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    for measure, thr in [("jaccard", 0.5), ("containment", 0.5)]:
        want = sorted(
            (r.doc_a, r.doc_b, r[measure])
            for r in jaccard_pairs(
                shingles(df, k=3), threshold=thr, measure=measure
            ).collect()
        )
        got = sorted(
            (r.doc_a, r.doc_b, r[measure])
            for r in near_dup_pairs(
                df, k=3, threshold=thr, measure=measure
            ).collect()
        )
        assert got == want, measure
        assert got == _brute_pairs(texts, 3, thr, measure), measure


def test_near_dup_pairs_null_text_and_empty_corpus(spark):
    """NULL texts form their own (NULL-fingerprint) group with no
    shingles — they must pair with nothing and never crash; an empty
    corpus yields an empty result."""
    from vptstools_spark.operators.dedup import near_dup_pairs

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta"),
         (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in near_dup_pairs(df, k=3, threshold=0.5).collect()
    )
    assert got == [(3, 4, 1.0)]
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert near_dup_pairs(empty, k=3, threshold=0.5).collect() == []
