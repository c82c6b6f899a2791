"""Properties of deterministic sampling and duplicate clustering that
the differential oracle can't express: append-stability, split
disjointness, and transitive-closure semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.operators import sampling as SP
from oracle_duckdb_sync_spark.operators.dedup import duplicate_clusters
from oracle_duckdb_sync_spark.sources.testdata import load_table


def test_hash_sample_stable_under_append_and_repartition(spark, sf_dir):
    """A row's fate depends only on (salt, id): sampling half the table
    then appending the rest must keep exactly the same ids sampled —
    the property df.sample() lacks."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    full = {r[0] for r in SP.hash_sample(d, "doc_id", 0.3).collect()}
    half = d.filter(F.col("doc_id") < 100)
    part = {r[0] for r in SP.hash_sample(half.repartition(13), "doc_id", 0.3).collect()}
    assert part == {i for i in full if i < 100}


def test_hash_sample_rate_roughly_holds(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    k = SP.hash_sample(d, "doc_id", 0.5).count()
    assert 0.35 * n < k < 0.65 * n


def test_different_salts_decorrelate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r[0] for r in SP.hash_sample(d, "doc_id", 0.5, salt="a").collect()}
    b = {r[0] for r in SP.hash_sample(d, "doc_id", 0.5, salt="b").collect()}
    assert a != b
    # overlap ≈ 25% of corpus for independent 50% samples
    n = d.count()
    assert 0.10 * n < len(a & b) < 0.40 * n


def test_split_assign_disjoint_exhaustive(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = SP.split_assign(d, "doc_id")
    assert out.count() == d.count()  # exhaustive, no dup rows
    counts = dict(
        out.groupBy("split").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert set(counts) <= {"train", "val", "test"}
    n = d.count()
    assert counts["train"] > 0.8 * n  # ~90% weight


def test_duplicate_clusters_transitive_closure(spark):
    """Chain a-b, b-c, plus isolated pair x-y: one cluster {a,b,c} with
    min-id label even though (a,c) was never a pair."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (100, 200)], ["id_a", "id_b"]
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {(10, 10), (20, 10), (30, 10), (100, 100), (200, 100)}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds — exercises
    the convergence loop beyond one hop."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    rows = duplicate_clusters(pairs).collect()
    assert len(rows) == 13
    assert {r["cluster_id"] for r in rows} == {0}


def test_duplicate_clusters_log_rounds_on_deep_path(spark):
    """Pointer jumping makes rounds O(log diameter): a 300-node path
    (diameter 299, far beyond the default 25 plain-propagation rounds)
    must still converge to a single min-id component."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], ["id_a", "id_b"]
    )
    rows = duplicate_clusters(pairs).collect()
    assert len(rows) == 300
    assert {r["cluster_id"] for r in rows} == {0}


def test_duplicate_clusters_raises_loudly_on_non_convergence(spark):
    """max_iter exhausting without the label-sum fixpoint must raise —
    a silently partial closure under-deletes (two 'representatives' of
    one component both survive)."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1)


def test_duplicate_clusters_fixpoint_exactly_on_max_iter(spark):
    """A closure whose last label change lands ON the final allowed
    round IS complete — the post-loop quiet-round check must confirm
    it instead of raising spuriously (one edge converges in exactly
    one round, so max_iter=1 is the boundary)."""
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    got = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs, max_iter=1).collect()
    }
    assert got == {(0, 0), (1, 0)}


def test_duplicate_clusters_empty_pairs(spark):
    """No pairs → empty labeling, no rounds, no raise."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert duplicate_clusters(pairs).collect() == []


def test_duplicate_clusters_observes_each_round_sum_on_its_pin(spark):
    """Each round's label sum is observed on the pass that checkpoints
    the round, not taken by a separate aggregate: one job fewer per
    round (with a separate sum aggregate per round the star takes 10
    jobs, the 12-node chain — which reaches the hook/jump rounds — 54,
    and no pairs 3)."""
    from tests.conftest import count_jobs

    for edges, most in (
        ([(1, i) for i in range(2, 8)], 8),
        ([(i, i + 1) for i in range(1, 12)], 47),
        ([], 2),
    ):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        duplicate_clusters(pairs).collect()  # warm: first-use planning
        labels, n = count_jobs(spark, lambda: duplicate_clusters(pairs))
        assert n <= most, (len(edges), n)
        want = {(i, min(i, 1)) for e in edges for i in e}
        assert {tuple(r) for r in labels.collect()} == want


def test_duplicate_clusters_matches_union_find_on_mixed_graph(spark):
    """Differential pin for the r15 fused-init/lazy-round closure: a
    deterministic mixed graph (stars whose min id is a leaf, a deep
    chain crossing the pointer-jumping budget, cliques, isolated
    pairs, duplicate and self-referencing edges) must label every node
    exactly like a reference union-find."""
    edges = []
    # star with min id AS A LEAF (center 50, leaves 41..49)
    edges += [(50, l) for l in range(41, 50)]
    # deep chain 100..160 (diameter 60 — beyond _PLAIN_ROUNDS)
    edges += [(i, i + 1) for i in range(100, 160)]
    # clique over {200, 201, 202, 203}
    clique = [200, 201, 202, 203]
    edges += [(a, b) for a in clique for b in clique if a < b]
    # isolated pairs + duplicate edge + reversed duplicate
    edges += [(300, 301), (302, 303), (300, 301), (301, 300)]
    # bridge merging the star into the chain's component
    edges += [(49, 130)]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    # canonicalize: min id of each component
    comp: dict[int, int] = {}
    for x, r in want.items():
        comp[r] = min(comp.get(r, x), x)
    want = {x: comp[find(x)] for x in parent}

    got = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(
            spark.createDataFrame(edges, ["id_a", "id_b"])
        ).collect()
    }
    assert got == want


def test_funnel_counts_requires_order(spark):
    """A user whose purchase precedes their first click does NOT count
    at the purchase step; earliest-completion times anchor each
    transition."""
    from datetime import datetime
    from pyspark.sql import Row
    from oracle_duckdb_sync_spark.operators.timeseries import funnel_counts

    def r(u, t, typ):
        return Row(user_id=u, ts=datetime(2024, 1, 1, 0, t), event_type=typ)

    rows = [
        # u1: signup -> click -> purchase (full conversion)
        r(1, 0, "signup"), r(1, 5, "click"), r(1, 9, "purchase"),
        # u2: purchase BEFORE any click: stops at signup->click
        r(2, 0, "signup"), r(2, 3, "purchase"), r(2, 7, "click"),
        # u3: click before signup doesn't count; later click does
        r(3, 0, "click"), r(3, 2, "signup"), r(3, 4, "click"),
        # u4: signup only
        r(4, 1, "signup"),
    ]
    got = {
        row["step"]: row["users"]
        for row in funnel_counts(
            spark.createDataFrame(rows),
            "user_id",
            "ts",
            "event_type",
            ["signup", "click", "purchase"],
        ).collect()
    }
    assert got == {"signup": 4, "click": 3, "purchase": 1}


def test_time_weighted_avg_step_semantics(spark):
    """Handcrafted step function: value 10 held 3s then 20 held 1s →
    TWA 12.5; the final observation carries no weight; single-point
    keys are excluded (no span)."""
    from datetime import datetime
    from pyspark.sql import Row
    from oracle_duckdb_sync_spark.operators.timeseries import time_weighted_avg

    rows = [
        Row(k="a", ts=datetime(2024, 1, 1, 0, 0, 0), v=10.0, i=1),
        Row(k="a", ts=datetime(2024, 1, 1, 0, 0, 3), v=20.0, i=2),
        Row(k="a", ts=datetime(2024, 1, 1, 0, 0, 4), v=99.0, i=3),  # no weight
        Row(k="b", ts=datetime(2024, 1, 1, 0, 0, 0), v=7.0, i=4),  # single point
    ]
    got = {
        r["k"]: r
        for r in time_weighted_avg(
            spark.createDataFrame(rows), "k", "ts", "v", "i"
        ).collect()
    }
    assert got["a"]["twa"] == 12.5
    assert got["a"]["span_us"] == 4_000_000
    assert "b" not in got


def test_weighted_sample_rate_and_determinism(spark):
    """Constant weight w keeps ≈w of rows; weight 0 keeps none, ≥1
    keeps all; the decision depends only on (salt, id) — stable across
    partitionings."""
    from oracle_duckdb_sync_spark.operators import sampling as SP

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    kept = SP.weighted_sample(df, "doc_id", F.lit(0.3)).count()
    assert abs(kept / 4000 - 0.3) < 0.03
    assert SP.weighted_sample(df, "doc_id", F.lit(0.0)).count() == 0
    assert SP.weighted_sample(df, "doc_id", F.lit(5.0)).count() == 4000  # clamped
    a = {r.doc_id for r in SP.weighted_sample(df, "doc_id", F.lit(0.5)).collect()}
    b = {
        r.doc_id
        for r in SP.weighted_sample(
            df.repartition(17), "doc_id", F.lit(0.5)
        ).collect()
    }
    assert a == b


def test_cluster_representatives_argmax_and_ties(spark):
    """Keep-best rule: highest score wins per cluster; exact score ties
    break to the smallest id; unclustered rows pass through labeled
    with their own id."""
    from oracle_duckdb_sync_spark.operators.dedup import cluster_representatives

    df = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.5), (9, 0.1)],
        ["doc_id", "quality_score"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["id", "cluster_id"]
    )
    got = {
        (r["doc_id"], r["cluster_key"])
        for r in cluster_representatives(df, clusters).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 0.9 -> 2 wins; 7 and 9 singletons
    assert got == {(2, 1), (7, 7), (9, 9)}


def test_leakage_safe_split_cosplits_clusters(spark):
    """Every member of a duplicate cluster lands in the same split, for
    several salts; unclustered docs match plain split_assign exactly."""
    from oracle_duckdb_sync_spark.operators.sampling import (
        leakage_safe_split,
        split_assign,
    )

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 51), (120, 121)], ["id_a", "id_b"]
    )
    clusters = duplicate_clusters(pairs)
    for salt in ("split0", "s1", "s2"):
        out = leakage_safe_split(docs, clusters, "doc_id", salt=salt)
        rows = {r["doc_id"]: r["split"] for r in out.collect()}
        assert len(rows) == 200
        assert rows[0] == rows[1] == rows[2]
        assert rows[50] == rows[51]
        assert rows[120] == rows[121]
        # unclustered rows: identical to the per-doc assignment on the
        # stringified id (the coalesced key degenerates to the own id)
        plain = {
            r["doc_id"]: r["split"]
            for r in split_assign(
                docs.withColumn(
                    "__skey", docs["doc_id"].cast("string")
                ),
                "__skey",
                salt=salt,
            ).collect()
        }
        clustered = {0, 1, 2, 50, 51, 120, 121}
        for i in set(rows) - clustered:
            assert rows[i] == plain[i], (salt, i)


def test_token_mixture_hits_token_blend(spark, sf_dir):
    """Kept token mass per stratum approximates the target weights, the
    scarcest stratum pins the budget, and membership is deterministic
    across repartitioning (content-hash bucket, not row order)."""
    from pyspark.sql import functions as F

    from oracle_duckdb_sync_spark.functions.text import tokens_expr
    from oracle_duckdb_sync_spark.operators.sampling import token_mixture_sample

    d = load_table(spark, sf_dir, "documents")
    tok = F.size(tokens_expr(F.col("text")))
    targets = {"en": 3, "de": 1}
    kept = token_mixture_sample(d, "doc_id", "lang", targets, tok)
    sums = {
        r["lang"]: r["t"]
        for r in kept.groupBy("lang").agg(F.sum(tok).alias("t")).collect()
    }
    assert set(sums) <= {"en", "de"}
    # en:de token mass ~ 3:1 (hash-bucket expectation; generous band)
    ratio = sums["en"] / max(sums["de"], 1)
    assert 1.8 < ratio < 5.0, sums
    # deterministic under repartition
    a = {r["doc_id"] for r in kept.collect()}
    b = {
        r["doc_id"]
        for r in token_mixture_sample(
            d.repartition(7), "doc_id", "lang", targets, tok
        ).collect()
    }
    assert a == b
    # infeasible mixture (stratum with zero tokens) -> empty, loudly
    t2 = token_mixture_sample(
        d, "doc_id", "lang", {"en": 1, "xx": 1}, tok
    )
    assert t2.count() == 0
