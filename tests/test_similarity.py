"""Similarity search: brute-force cosine is the exact baseline; the LSH
ANN tier is measured for recall against it."""

import math
import random

import pytest
from pyspark.sql import functions as F

from etl_database_spark.functions import similarity as S

DIM = 16


def _mk_vectors(n=200, clusters=8):
    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(clusters)]
    rows = []
    for i in range(n):
        c = centers[i % clusters]
        v = [x + rng.gauss(0, 0.15) for x in c]
        rows.append((i, [float(x) for x in v]))
    return rows


def _brute_topk(rows, qids, k=5):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    vecs = dict(rows)
    out = {}
    for q in qids:
        scored = sorted(
            ((round(cos(vecs[q], v), 4), i) for i, v in vecs.items() if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        out[q] = [i for _, i in scored[:k]]
    return out


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(_mk_vectors(), "vec_id long, embedding array<float>")


def test_cosine_topk_matches_brute_force(spark, vectors):
    qids = [0, 1, 2]
    queries = vectors.where(F.col("vec_id").isin(qids))
    out = S.cosine_topk(vectors, queries, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    truth = _brute_topk(_mk_vectors(), qids, k=5)
    assert got == truth


def test_cosine_self_similarity_excluded(spark, vectors):
    queries = vectors.where(F.col("vec_id") == 0)
    out = S.cosine_topk(vectors, queries, k=5).collect()
    assert all(r.neighbor_id != 0 for r in out)
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in out)


def test_ann_recall(spark, vectors):
    """LSH ANN must reach ≥0.6 recall@5 vs brute force on clustered
    vectors (sub-bucket probing, 12 planes)."""
    qids = list(range(10))
    queries = vectors.where(F.col("vec_id").isin(qids))
    ann = S.ann_topk(vectors, queries, dim=DIM, k=5, num_planes=12).collect()
    got = {}
    for r in ann:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    truth = _brute_topk(_mk_vectors(), qids, k=5)
    hits = sum(len(got.get(q, set()) & set(t)) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_lsh_signatures_deterministic(spark, vectors):
    a = {r._id: r.lsh_sig for r in S.lsh_signatures(vectors, DIM, 12).collect()}
    b = {r._id: r.lsh_sig for r in S.lsh_signatures(vectors, DIM, 12).collect()}
    assert a == b


def test_kmeans_converges_and_clusters(spark, vectors):
    from etl_database_spark.functions.similarity import ivf_assign, kmeans_fit

    cents = kmeans_fit(vectors, DIM, k=8, max_iter=10)
    assert len(cents) == 8 and all(len(c) == DIM for c in cents)
    assigned = ivf_assign(vectors, cents)
    # clustered synthetic data (8 generator clusters): members of the
    # same generator cluster should mostly co-assign
    rows = {r._id: r.centroid for r in assigned.collect()}
    from collections import Counter

    agreement = 0
    for g in range(8):
        members = [rows[i] for i in rows if i % 8 == g]
        agreement += Counter(members).most_common(1)[0][1] / len(members)
    assert agreement / 8 > 0.8


def test_ivf_topk_recall(spark, vectors):
    from etl_database_spark.functions.similarity import ivf_topk, kmeans_fit

    qids = list(range(10))
    queries = vectors.where(F.col("vec_id").isin(qids))
    cents = kmeans_fit(vectors, DIM, k=8, max_iter=5)
    got = {}
    for r in ivf_topk(vectors, queries, cents, k=5, n_probe=3).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    truth = _brute_topk(_mk_vectors(), qids, k=5)
    hits = sum(len(got.get(q, set()) & set(t)) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    assert hits / total >= 0.8, f"IVF recall {hits}/{total}"


def test_ivf_index_persisted_matches_and_prunes(spark, vectors, tmp_path):
    """The persisted index must (a) return exactly what the refit-per-
    call ivf_topk returns for the same centroids, (b) prune the scan to
    the probed centroid partitions, and (c) survive load() round-trip."""
    from etl_database_spark.functions.similarity import (
        IvfIndex,
        ivf_probe_targets,
        ivf_topk,
        kmeans_fit,
    )

    qids = list(range(10))
    queries = vectors.where(F.col("vec_id").isin(qids))
    cents = kmeans_fit(vectors, DIM, k=8, max_iter=5)
    idx = IvfIndex.build(spark, vectors, cents, str(tmp_path / "ivf"))

    expected = sorted(map(tuple, ivf_topk(vectors, queries, cents, k=5, n_probe=3).collect()))
    got = sorted(map(tuple, idx.topk(queries, k=5, n_probe=3).collect()))
    assert got == expected

    # (b) partition pruning: the probed scan reads only the probed
    # centroid directories — assert both the plan filter and the files.
    # A 2-query probe set touches ≤6 of the 8 lists, so pruning is
    # observable (10 queries × 3 probes cover all centroids).
    few = vectors.where(F.col("vec_id").isin([0, 1]))
    probed = sorted(
        r.centroid
        for r in ivf_probe_targets(few, cents, 3).select("centroid").distinct().collect()
    )
    import re

    pruned = idx.lists(probed)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[centroid#\d+ IN \(([^)]*)\)\]", plan)
    assert m, f"no partition filter in plan:\n{plan}"
    assert sorted(int(x) for x in m.group(1).split(",")) == probed
    # and the pruned set is strictly smaller than the full index
    assert len(probed) < len({r.centroid for r in idx.lists().select("centroid").distinct().collect()})

    # (c) load() round-trip preserves centroids
    reloaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    assert reloaded.centroids == cents


def _brute_pairs(rows, threshold):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    out = set()
    for i, vi in rows:
        for j, vj in rows:
            if i < j and round(cos(vi, vj), 4) >= threshold:
                out.add((i, j))
    return out


def test_cosine_near_dup_exact_matches_brute_force(spark, vectors):
    got = {
        (r.id_a, r.id_b)
        for r in S.cosine_near_dup_pairs(vectors, threshold=0.9).collect()
    }
    truth = _brute_pairs(_mk_vectors(), 0.9)
    assert got == truth and len(truth) > 0


def test_cosine_near_dup_pairs_ordered_ids(spark, vectors):
    rows = S.cosine_near_dup_pairs(vectors, threshold=0.9).collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.cos_sim >= 0.9 for r in rows)


def test_cosine_near_dup_lsh_recall_and_precision(spark, vectors):
    """Banded LSH blocking: every emitted pair is exact-verified
    (precision 1 vs the exact op at the same threshold); recall ≥ 0.8
    on the clustered corpus at a high-sim threshold."""
    truth = _brute_pairs(_mk_vectors(), 0.9)
    got = {
        (r.id_a, r.id_b)
        for r in S.cosine_near_dup_lsh(
            vectors, dim=DIM, threshold=0.9, bands=16, rows_per_band=4
        ).collect()
    }
    assert got <= truth  # no false positives: exact verify after blocking
    assert len(got) / len(truth) >= 0.8, f"recall {len(got)}/{len(truth)}"


def test_cosine_near_dup_lsh_bucket_cap(spark, vectors):
    """max_bucket=1 drops every band bucket with ≥2 members, so no
    candidates survive — the skew guard actually gates the join."""
    out = S.cosine_near_dup_lsh(
        vectors, dim=DIM, threshold=0.9, bands=8, rows_per_band=2, max_bucket=1
    )
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Feature-hashing embeddings: text → vector → ANN, fully in-engine.


def test_feature_hash_dense_matches_sparse_and_is_normalized(spark):
    from etl_database_spark.functions.similarity import (
        feature_hash_embeddings,
        feature_hash_sparse,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "a completely different sentence here"),
         (3, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    sparse = {
        (r._id, r.bucket): r.weight
        for r in feature_hash_sparse(docs, "text", "doc_id", dim=16).collect()
    }
    dense = {r.doc_id: list(r.embedding) for r in
             feature_hash_embeddings(docs, "text", "doc_id", dim=16).collect()}
    # dense assembles exactly the sparse weights (zeros elsewhere)
    for (did, bucket), wgt in sparse.items():
        assert abs(dense[did][bucket] - wgt) < 1e-6
    for did, vec in dense.items():
        nz = [x for x in vec if x != 0.0]
        assert len(nz) == sum(1 for k in sparse if k[0] == did)
        assert abs(sum(x * x for x in vec) - 1.0) < 1e-2  # L2-normalized (4dp rounding)
    # identical text → identical embedding; different text → different
    assert dense[1] == dense[3] != dense[2]


def test_feature_hash_feeds_cosine_topk(spark):
    from etl_database_spark.functions.similarity import (
        cosine_topk,
        feature_hash_embeddings,
    )

    docs = spark.createDataFrame(
        [(i, f"common prefix tokens variant {i}") for i in range(10)]
        + [(99, "zq xv totally unrelated wk")],
        "doc_id long, text string",
    )
    emb = feature_hash_embeddings(docs, "text", "doc_id", dim=32).withColumnRenamed(
        "doc_id", "vec_id"
    )
    queries = emb.where("vec_id = 0")
    top = cosine_topk(emb, queries, k=3).collect()
    assert len(top) == 3
    # shared-vocabulary docs must outrank the unrelated one
    assert all(r.neighbor_id != 99 for r in top)
    assert all(-1.0001 <= r.cos_sim <= 1.0001 for r in top)


# ---------------------------------------------------------------------------
# IVF index maintenance: append / merge / compact lifecycle.


def test_ivf_append_equals_fresh_build(spark, tmp_path):
    """Appending a delta batch against fixed centroids must serve
    exactly what a fresh build over the union serves (same quantizer),
    and replaying the same batch id must be a no-op."""
    from etl_database_spark.functions.similarity import IvfIndex, kmeans_fit

    rows = _mk_vectors()
    base_rows, delta_rows = rows[:150], rows[150:]
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(base_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    union = spark.createDataFrame(rows, schema)

    cents = kmeans_fit(base, DIM, k=6, max_iter=5)
    idx = IvfIndex.build(spark, base, cents, str(tmp_path / "ivf"))
    assert idx.append(delta, batch="d1") is True

    fresh = IvfIndex.build(spark, union, cents, str(tmp_path / "ivf_fresh"))
    queries = union.where(F.col("vec_id").isin([0, 1, 2, 151]))
    got = sorted(map(tuple, idx.topk(queries, k=5, n_probe=3).collect()))
    want = sorted(map(tuple, fresh.topk(queries, k=5, n_probe=3).collect()))
    assert got == want

    # replay: same batch id must not duplicate rows
    n_before = idx.lists().count()
    assert idx.append(delta, batch="d1") is False
    assert idx.lists().count() == n_before
    assert idx.batches() == ["base", "d1"]


def test_ivf_merge_from_reassigns_to_target_quantizer(spark, tmp_path):
    """merge_from folds a second index (with DIFFERENT centroids) in;
    the merged index answers like one built over the union with the
    target's centroids."""
    from etl_database_spark.functions.similarity import IvfIndex, kmeans_fit

    rows = _mk_vectors()
    a_rows, b_rows = rows[:120], rows[120:]
    schema = "vec_id long, embedding array<float>"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    union = spark.createDataFrame(rows, schema)

    cents_a = kmeans_fit(a, DIM, k=6, max_iter=5)
    cents_b = kmeans_fit(b, DIM, k=4, max_iter=5)
    idx_a = IvfIndex.build(spark, a, cents_a, str(tmp_path / "a"))
    idx_b = IvfIndex.build(spark, b, cents_b, str(tmp_path / "b"))
    assert idx_a.merge_from(idx_b, batch="from_b") is True

    fresh = IvfIndex.build(spark, union, cents_a, str(tmp_path / "fresh"))
    queries = union.where(F.col("vec_id").isin([3, 125]))
    got = sorted(map(tuple, idx_a.topk(queries, k=5, n_probe=3).collect()))
    want = sorted(map(tuple, fresh.topk(queries, k=5, n_probe=3).collect()))
    assert got == want


def test_ivf_compact_preserves_answers_and_blocks_replay(spark, tmp_path):
    """compact() consolidates per-batch files (fewer files per list,
    identical answers) and absorbed batch ids stay no-ops afterward."""
    from etl_database_spark.functions.similarity import IvfIndex, kmeans_fit

    rows = _mk_vectors()
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(rows[:100], schema)
    d1 = spark.createDataFrame(rows[100:150], schema)
    d2 = spark.createDataFrame(rows[150:], schema)
    union = spark.createDataFrame(rows, schema)

    cents = kmeans_fit(base, DIM, k=6, max_iter=5)
    idx = IvfIndex.build(spark, base, cents, str(tmp_path / "ivf"))
    idx.append(d1, batch="d1")
    idx.append(d2, batch="d2")

    queries = union.where(F.col("vec_id").isin([0, 101, 151]))
    before = sorted(map(tuple, idx.topk(queries, k=5, n_probe=3).collect()))
    files_before = idx.stats().agg(F.sum("n_files")).collect()[0][0]

    idx.compact(files_per_list=1)

    after = sorted(map(tuple, idx.topk(queries, k=5, n_probe=3).collect()))
    assert after == before
    stats = {r.centroid: (r.n_vectors, r.n_files) for r in idx.stats().collect()}
    assert sum(n for n, _ in stats.values()) == len(rows)
    assert all(nf == 1 for _, nf in stats.values())
    assert sum(nf for _, nf in stats.values()) < files_before

    # a late replay of an absorbed batch must remain a no-op
    n_before = idx.lists().count()
    assert idx.append(d1, batch="d1") is False
    assert idx.lists().count() == n_before
    # and a reloaded index preserves both centroids and the replay guard
    reloaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    assert reloaded.centroids == cents
    assert reloaded.append(d2, batch="d2") is False


def test_ivf_compact_files_per_list_splits_lists(spark, tmp_path):
    """files_per_list > 1 must actually produce multiple files per
    inverted list (the salt split), not just cap total parallelism."""
    from etl_database_spark.functions.similarity import IvfIndex, kmeans_fit

    rows = _mk_vectors()
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(rows, schema)
    cents = kmeans_fit(df, DIM, k=4, max_iter=5)
    idx = IvfIndex.build(spark, df, cents, str(tmp_path / "ivf"))
    idx.compact(files_per_list=3)
    stats = {r.centroid: (r.n_vectors, r.n_files) for r in idx.stats().collect()}
    assert sum(n for n, _ in stats.values()) == len(rows)
    # every reasonably-populated list is split across >1 file, capped
    # at files_per_list
    assert all(nf <= 3 for _, nf in stats.values())
    assert any(nf > 1 for n, nf in stats.values() if n >= 10)


def test_cosine_pairs_gate(spark, vectors):
    """The exact all-pairs tier refuses past max_pairs, naming the
    LSH scale path; None opts out."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cosine_near_dup_lsh"):
        S.cosine_near_dup_pairs(vectors, threshold=0.9, max_pairs=1)
    assert S.cosine_near_dup_pairs(vectors, threshold=0.9, max_pairs=None).count() >= 0


def test_rp_project_matches_numpy_and_preserves_strong_pairs(spark):
    """JL ±1 projection (rp_project): (a) Spark == NumPy replay of the
    same literal matrix exactly; (b) planted near-twins stay top-1 in
    the 16-d projected space; (c) cos>0.8 pairs distort < 0.06. These
    are the properties JL guarantees — rank order among
    near-orthogonal vectors is explicitly NOT one of them (see the
    rp_project docstring)."""
    import numpy as np

    from etl_database_spark.functions.similarity import _hyperplane, rp_project

    rng = np.random.default_rng(0)
    base = rng.normal(size=(120, DIM))
    twins = base + rng.normal(scale=0.15, size=base.shape)
    X = np.vstack([base, twins])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    proj = rp_project(df, dim=DIM, out_dim=16, seed=7)
    got = {r._id: np.array(r.rp_vec) for r in proj.collect()}

    H = np.array([_hyperplane(DIM, j, 7) for j in range(16)]).T
    # float32 ingestion first (the Spark column is array<float>)
    P = X.astype(np.float32).astype(np.float64) @ H
    assert all(np.array_equal(got[i], P[i]) for i in range(len(X)))

    def cosm(A):
        n = A / np.linalg.norm(A, axis=1, keepdims=True)
        return n @ n.T

    ce, cp = cosm(X), cosm(P)
    hits = 0
    for i in range(len(base)):
        sims = cp[i].copy()
        sims[i] = -2
        hits += int(np.argmax(sims) == i + len(base))
    assert hits / len(base) >= 0.95  # planted twins stay top-1

    mask = (ce > 0.8) & ~np.eye(len(X), dtype=bool)
    assert mask.sum() > 0
    assert np.abs(cp[mask] - ce[mask]).max() < 0.06


def test_kmeans_portable_matches_numpy_and_is_invariant(spark):
    """kmeans_fit_portable: (a) the decimal-exact Lloyd trajectory
    matches a pure-Python replay of the same rounding rules exactly,
    (b) centroids are bit-identical under repartitioning
    (order-independent sums)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from etl_database_spark.functions.similarity import kmeans_fit_portable

    def r(v, d):
        return float(Decimal(repr(v)).quantize(Decimal(f"1e-{d}"), ROUND_HALF_UP))

    rng = np.random.default_rng(1)
    X = rng.normal(size=(90, DIM)).astype(np.float32).astype(np.float64)
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    k, iters = 4, 3
    got = kmeans_fit_portable(df, dim=DIM, k=k, iters=iters)
    again = kmeans_fit_portable(df.repartition(7), dim=DIM, k=k, iters=iters)
    assert got == again

    cents = [list(X[i]) for i in range(k)]
    for _ in range(iters):
        assign = []
        for v in X:
            dists = []
            for ci, c in enumerate(cents):
                acc = 0.0
                for a, b in zip(v, c):
                    acc = acc + (a - b) * (a - b)
                dists.append((acc, ci))
            assign.append(min(dists)[1])
        new = [list(c) for c in cents]
        for ci in range(k):
            members = [X[i] for i in range(len(X)) if assign[i] == ci]
            if not members:
                continue
            for d in range(DIM):
                s = sum(Decimal(repr(r(float(v[d]), 12))) for v in members)
                new[ci][d] = r(float(s) / len(members), 9)
        cents = new
    assert got == cents


def test_rp_project_expr_matches_column_form(spark, vectors):
    """rp_project is built as one parsed SQL expression (r12 — the
    per-plane Column/lambda construction was ~2s of py4j round-trips
    per plan build); its values must stay bit-identical to the
    original Column-by-Column form, which this test reconstructs."""
    dim, out_dim, seed = len(_mk_vectors()[0][1]), 6, 7

    def column_form(df):
        comps = [
            S.dot(
                F.col("embedding"),
                F.array(*[F.lit(x) for x in S._hyperplane(dim, j, seed)]),
            )
            for j in range(out_dim)
        ]
        return df.select(F.col("vec_id").alias("_id"), F.array(*comps).alias("rp_vec"))

    new = S.rp_project(vectors, dim, out_dim, seed=seed).orderBy("_id").collect()
    old = column_form(vectors).orderBy("_id").collect()
    assert [(r._id, list(r.rp_vec)) for r in new] == [
        (r._id, list(r.rp_vec)) for r in old
    ]


def test_lsh_signatures_expr_matches_column_form(spark, vectors):
    """Same pin for lsh_signatures' single-expression build."""
    dim, planes, seed = len(_mk_vectors()[0][1]), 12, 42

    def column_form(df):
        sig = F.lit(0).cast("long")
        for j in range(planes):
            plane = F.array(*[F.lit(x) for x in S._hyperplane(dim, j, seed)])
            bit = F.when(
                S.dot(F.col("embedding"), plane) > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            sig = sig + F.shiftleft(bit, j)
        return df.select(F.col("vec_id").alias("_id"), sig.alias("lsh_sig"))

    new = (
        S.lsh_signatures(vectors, dim, planes, seed=seed)
        .orderBy("_id").select("_id", "lsh_sig").collect()
    )
    old = column_form(vectors).orderBy("_id").collect()
    assert new == old
