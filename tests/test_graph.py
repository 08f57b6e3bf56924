"""PageRank: distributed implementation vs dense power iteration."""

from decimal import ROUND_HALF_UP, Decimal

import pytest


def _round_half_up(x: float, places: int) -> float:
    """Spark's ROUND on a DOUBLE: HALF_UP on the value's shortest decimal
    form. Python's round() rounds half to even, so a tie would differ."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _dense_pagerank(edges, damping=0.85, iters=60):
    """Reference power iteration (sum-to-N convention, undirected)."""
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[idx[a]].add(idx[b])
        adj[idx[b]].add(idx[a])
    rank = [1.0] * n
    for _ in range(iters):
        new = [0.0] * n
        for i in range(n):
            share = rank[i] / len(adj[i])
            for j in adj[i]:
                new[j] += share
        rank = [(1 - damping) + damping * x for x in new]
    return {nodes[i]: rank[i] for i in range(n)}


@pytest.fixture(scope="module")
def pair_df(spark):
    edges = [
        (1, 2), (2, 3), (3, 1),          # triangle
        (3, 4),                           # bridge
        (4, 5), (5, 6), (6, 7), (7, 4),   # square
        (10, 11),                         # separate component
    ]
    return spark.createDataFrame(edges, "id_a long, id_b long"), edges


def test_pagerank_matches_power_iteration(spark, pair_df):
    from etl_database_spark.functions.graph import pagerank

    df, edges = pair_df
    got = {r._id: r.rank for r in pagerank(df, max_iter=60, tol=1e-12).collect()}
    want = _dense_pagerank(edges)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])


def test_pagerank_distributed_path_matches_local(spark, pair_df):
    """The gated small-graph fast path (numpy power iteration on the
    driver, connected_components-precedent) and the distributed
    join+aggregate loop (max_edges_local=None forces it) must agree to
    float tolerance — same update rule, same convergence schedule."""
    from etl_database_spark.functions.graph import pagerank

    df, _ = pair_df
    local = {r._id: r.rank for r in pagerank(df, max_iter=25).collect()}
    dist = {
        r._id: r.rank
        for r in pagerank(df, max_iter=25, max_edges_local=None).collect()
    }
    assert set(local) == set(dist)
    for k in local:
        assert abs(local[k] - dist[k]) < 1e-9, (k, local[k], dist[k])


def test_pagerank_sums_to_node_count(spark, pair_df):
    from etl_database_spark.functions.graph import pagerank

    df, edges = pair_df
    ranks = [r.rank for r in pagerank(df, max_iter=60, tol=1e-12).collect()]
    n = len({x for e in edges for x in e})
    assert abs(sum(ranks) - n) < 1e-6


def test_pagerank_bridge_outranks_leaf(spark, pair_df):
    """The bridge nodes (3, 4) carry more centrality than any
    degree-1-equivalent member of their cycles."""
    from etl_database_spark.functions.graph import pagerank

    df, _ = pair_df
    got = {r._id: r.rank for r in pagerank(df, max_iter=60, tol=1e-12).collect()}
    assert got[3] > got[1] and got[3] > got[2]
    assert got[4] > got[5]


def test_pagerank_empty_graph(spark):
    from etl_database_spark.functions.graph import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(empty).count() == 0


def test_pagerank_lsh_edge_source_equals_exact_tier(spark):
    """doc_similarity_pagerank's r=1-banded MinHash edge source
    (min_agree=3: keep pairs whose sigs agree on ≥3/32 components,
    scored in the bucket join — the
    default 0.2 est margin cut at 0.1 and dropped a true J=0.333
    fixture pair that estimated 3/32) must produce exactly the
    exact-n-gram tier's
    verified pair set on the fixture: same ids, same exact Jaccards.
    This is what lets the query scale past the exact tier's
    candidate-mass gate without changing the graph it ranks."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.queries import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in D.ngram_jaccard_pairs(
            d, "text", "doc_id", n=5, threshold=0.3
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in D.minhash_near_duplicates(
            d, "text", "doc_id", n=5, num_perm=32, bands=32,
            threshold=0.3, est_margin=None, min_agree=3,
        ).collect()
    }
    assert exact, "fixture must produce J>=0.3 pairs"
    assert lsh == exact


def test_leakage_splits_lsh_pair_source_equals_exact_tier(spark):
    """leakage_safe_splits' PORTABLE LSH pair source at threshold 0.5
    (md5 shingles, r=1 bands over 64 perms, in-join >=13/64 agreement
    cut — the round-9 fully-oracle-replayable configuration, no exact
    routing) must equal the exact n-gram tier's verified pair set on
    the fixture: the recall-budget arithmetic in the query docstring,
    checked empirically."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.queries import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in D.ngram_jaccard_pairs(
            d, "text", "doc_id", n=5, threshold=0.5
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in D.minhash_near_duplicates(
            d, "text", "doc_id", n=5, num_perm=64, bands=64,
            threshold=0.5, est_margin=None, min_agree=13,
            portable=True,
        ).collect()
    }
    assert exact, "fixture must produce J>=0.5 pairs"
    assert lsh == exact


def test_capped_route_exact_restores_cap_lost_pairs(spark):
    """A near-dup pair whose band collisions all land in over-cap
    buckets is dropped by the plain LSH tier but restored by
    capped_route_exact: force max_bucket below the fixture's
    boilerplate bucket sizes and assert the routed tier still equals
    the exact tier while the unrouted tier has lost pairs."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.queries import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(
            d, "text", "doc_id", n=5, threshold=0.5
        ).collect()
    }
    kw = dict(n=5, num_perm=64, bands=64, threshold=0.5,
              est_margin=None, min_agree=13, max_bucket=1)
    plain = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_duplicates(d, "text", "doc_id", **kw).collect()
    }
    routed = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_duplicates(
            d, "text", "doc_id", capped_route_exact=True, **kw
        ).collect()
    }
    assert exact, "fixture must produce J>=0.5 pairs"
    assert plain < exact  # the cap really loses pairs at max_bucket=1
    assert routed == exact


def test_pagerank_edge_store_serves_one_shot_build(spark, monkeypatch):
    """doc_similarity_pagerank's persisted edge store must serve the
    same ranks as an un-stored one-shot build of the same LSH
    pipeline (store round-trip changes nothing), and a second serve
    must go through the served-store cache without rebuilding (same
    store object, same parquet path)."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.functions.graph import pagerank
    from etl_database_spark.queries import llmdata as L
    from etl_database_spark.queries import load_all, table

    served, builds = [], []
    real_served_store = L.served_store

    def recording_served_store(sf_dir, source, prefix, build):
        if prefix != "spark_graft_predges_":
            return real_served_store(sf_dir, source, prefix, build)

        def counted_build(tmp_dir):
            builds.append(tmp_dir)
            return build(tmp_dir)

        store = real_served_store(sf_dir, source, prefix, counted_build)
        served.append(store)
        return store

    monkeypatch.setattr(L, "served_store", recording_served_store)

    sf = "/root/testdata/sf0.001"
    stored = {
        (r.doc_id, r.rank)
        for r in load_all()["doc_similarity_pagerank"].fn(spark, sf).collect()
    }
    assert len(served) == 1, "the row must serve its edges through served_store"
    store_first = served[0]
    path_first = store_first.path
    builds_first = len(builds)
    d = table(spark, sf, "documents")
    pairs = D.minhash_near_duplicates(
        d, "text", "doc_id", n=5, num_perm=32, bands=32, threshold=0.3,
        est_margin=None, min_agree=3,
    )
    oneshot = {
        (r._id, round(r.rank, 6))
        for r in pagerank(pairs, damping=0.85, max_iter=20).collect()
    }
    assert stored == oneshot
    load_all()["doc_similarity_pagerank"].fn(spark, sf).count()
    assert len(served) == 2, "the second serve must go through served_store"
    assert len(builds) == builds_first, "the second serve must not rebuild"
    store_second = served[1]
    assert store_second is store_first
    assert store_second.path == path_first


def test_minhash_edge_store_equals_one_shot(spark):
    """minhash_near_dups serves from the persisted edge store (r12);
    its rows must equal the one-shot pipeline it replaced — same n=7
    shingles, same banding, the est-Jaccard prefilter expressed as
    the store's min_agree cut, same exact verify, same rounding —
    at both small fixture scales."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.queries import llmdata as L
    from etl_database_spark.queries import load_all, table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        served = [
            (r.id_a, r.id_b, r.jaccard)
            for r in load_all()["minhash_near_dups"].fn(spark, sf).collect()
        ]
        d = table(spark, sf, "documents")
        one = sorted(
            (r.id_a, r.id_b, _round_half_up(r.jaccard, 4))
            for r in D.minhash_near_duplicates(
                d, "text", "doc_id", sigs=L._minhash_sigs(spark, sf),
                **L._MINHASH_PARAMS,
            ).collect()
        )
        assert served == one, f"store-served pair set diverged at {sf}"
        assert served, f"fixture at {sf} must produce verified pairs"


def test_edgestore_incremental_equals_one_shot(spark, tmp_path):
    """EdgeStore lifecycle vs the one-shot build on the same corpus:
    3-batch incremental ingest produces exactly the one-shot verified
    edge set (ids and exact Jaccards), compaction changes nothing,
    retracting a batch's documents leaves exactly the one-shot edge
    set of the remaining corpus, and re-ingesting them restores the
    full set."""
    from pyspark.sql import functions as F

    from etl_database_spark.functions import dedup as D
    from etl_database_spark.operators.edgestore import EdgeStore
    from etl_database_spark.queries import table

    P = dict(n=5, num_perm=32, bands=32, threshold=0.3, min_agree=3)
    d = table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 300
    )

    def pairset(df):
        return sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect())

    one = pairset(D.minhash_near_duplicates(d, "text", "doc_id", est_margin=None, **P))
    assert one, "fixture slice must produce J>=0.3 pairs"

    store = EdgeStore(spark, str(tmp_path / "edges"), **P)
    for i in range(3):
        assert store.ingest(d.where(F.col("doc_id") % 3 == i), f"b{i}", corpus=d)
    assert pairset(store.edges()) == one
    # replay is a no-op even with different data
    assert store.ingest(d.limit(1), "b0", corpus=d) is False

    store.compact()
    assert pairset(store.edges()) == one

    # exact retraction: edges == one-shot on the remaining corpus
    rest = d.where(F.col("doc_id") % 3 != 1)
    assert store.retract(d.where(F.col("doc_id") % 3 == 1), "b1_retraction")
    one_rest = pairset(
        D.minhash_near_duplicates(rest, "text", "doc_id", est_margin=None, **P)
    )
    assert pairset(store.edges()) == one_rest

    # re-ingest under a new id restores the full set
    assert store.ingest(d.where(F.col("doc_id") % 3 == 1), "b1_again", corpus=d)
    assert pairset(store.edges()) == one


def test_streamed_edgestore_equals_one_shot_portable(spark, tmp_path):
    """Stream-maintained EdgeStore (two micro-batches through the
    checkpoint-bound foreachBatch glue) with the portable checkable
    parameters must serve exactly the one-shot portable pipeline's
    edge set — the invariance the streaming_edgestore_pairs oracle
    certifies cross-engine. min_agree=10 is the integer form of the
    one-shot est-Jaccard >= 0.3 prefilter at k=32."""
    from pyspark.sql import functions as F

    from etl_database_spark.functions import dedup as D
    from etl_database_spark.queries import table
    from etl_database_spark.streaming.edges import run_edges_once

    P = dict(n=7, num_perm=32, bands=8, threshold=0.5)
    d = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")

    def pairset(df):
        return sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect())

    one = pairset(D.minhash_near_duplicates(d, "text", "doc_id", portable=True, **P))
    assert one, "fixture must produce J>=0.5 pairs"

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store_path = str(tmp_path / "store")
    params = dict(P, min_agree=10, portable=True)
    d.where(F.col("doc_id") % 2 == 0).write.parquet(src)
    run_edges_once(
        spark, spark.readStream.schema(d.schema).parquet(src),
        store_path, ckpt, corpus=d, **params,
    )
    d.where(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    store = run_edges_once(
        spark, spark.readStream.schema(d.schema).parquet(src),
        store_path, ckpt, corpus=d, **params,
    )
    assert pairset(store.edges()) == one

    # checkpoint identity: the store belongs to the first checkpoint's
    # stream — a different checkpoint (batch ids restart at 0, would
    # collide with stored batches) must refuse
    import pytest

    with pytest.raises(Exception, match="edge store"):
        run_edges_once(
            spark, spark.readStream.schema(d.schema).parquet(src),
            store_path, str(tmp_path / "ckpt2"), corpus=d, **params,
        )


def test_pagerank_portable_matches_production_and_is_invariant(spark):
    """pagerank_portable (the decimal-sum checkable trajectory): (a)
    ranks agree with the production convergence pagerank on the same
    edges to the damping fixpoint tolerance, (b) total mass ~= 1, (c)
    bit-identical under repartitioning (order-independent sums)."""
    from etl_database_spark.functions import dedup as D
    from etl_database_spark.functions.graph import pagerank, pagerank_portable
    from etl_database_spark.queries import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.minhash_near_duplicates(
        d, "text", "doc_id", portable=True, n=7, num_perm=32, bands=8, threshold=0.5
    ).localCheckpoint(eager=True)
    got = {r._id: r.rank for r in pagerank_portable(pairs, iters=25).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    prod = {
        r._id: r.rank
        for r in pagerank(pairs, damping=0.85, max_iter=50).collect()
    }
    # production ranks sum to the NODE COUNT (its convention) — rescale
    scale = len(got)
    assert got.keys() == prod.keys()
    assert all(abs(got[i] - prod[i] / scale) < 1e-5 for i in got)
    again = {
        r._id: r.rank
        for r in pagerank_portable(pairs.repartition(7), iters=25).collect()
    }
    assert got == again


def test_edgestore_candidates_match_reference_incremental(spark, tmp_path):
    """The store's persisted-band candidate path must produce exactly
    the pair set of the reference spec
    (dedup.lsh_candidate_pairs_incremental: re-band the full merged
    signature table, full-table bucket sizes, in-join agree cut) for
    the same batch — the band/count row kinds are a cost optimization,
    not a semantics change."""
    from pyspark.sql import functions as F

    from etl_database_spark.functions import dedup as D
    from etl_database_spark.operators.edgestore import EdgeStore
    from etl_database_spark.queries import table

    P = dict(n=5, num_perm=32, bands=32, threshold=0.3, min_agree=3)
    d = table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 300
    )
    store = EdgeStore(spark, str(tmp_path / "edges"), **P)
    b0, b1 = d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    assert store.ingest(b0, "b0", corpus=b0)
    assert store.ingest(b1, "b1", corpus=d)

    sigs_b1 = D.minhash_signatures(D.shingles(b1, "text", "doc_id", P["n"]), P["num_perm"])
    ref = D.lsh_candidate_pairs_incremental(
        sigs_b1,
        store.signatures(),
        num_perm=P["num_perm"],
        bands=P["bands"],
        max_bucket=store.max_bucket,
        min_agree=P["min_agree"],
    )
    banded_b1 = D.band_table(sigs_b1, P["num_perm"], P["bands"])
    got = store._candidate_pairs(banded_b1, store._batch_band_mods("b1"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_edgestore_retraction_excluded_at_min_agree_1(spark, tmp_path):
    """Structural retract-exactness when NO agreement cut runs
    (min_agree=1): after retracting a document, a later ingest whose
    corpus still carries the retracted document's text (the data-lake
    posture — ingest's corpus contract only requires previously
    ingested docs plus the batch) must NOT store any edge incident to
    it. Before round 11 the min_agree<=1 candidate path skipped the
    live-signature fold entirely, so exclusion rested on the caller
    passing a retracted-free corpus — a contract, not an invariant
    (round-10 advisor finding)."""
    from pyspark.sql import functions as F

    from etl_database_spark.functions import dedup as D
    from etl_database_spark.operators.edgestore import EdgeStore
    from etl_database_spark.queries import table

    P = dict(n=5, num_perm=32, bands=32, threshold=0.3, min_agree=1)
    d = table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 300
    )
    one = D.minhash_near_duplicates(d, "text", "doc_id", est_margin=None, **P)
    # pick a doc that participates in at least one verified edge, so
    # the retraction has something to exclude
    victim = one.select(F.col("id_a").alias("v")).union(
        one.select(F.col("id_b").alias("v"))
    ).groupBy("v").count().orderBy(F.desc("count"), "v").first().v

    store = EdgeStore(spark, str(tmp_path / "edges"), **P)
    b0 = d.where(F.col("doc_id") % 2 == 0)
    assert store.ingest(b0, "b0", corpus=b0)
    assert store.retract(d.where(F.col("doc_id") == victim), "rm")
    assert store.edges().where(
        (F.col("id_a") == victim) | (F.col("id_b") == victim)
    ).count() == 0
    # second batch: corpus deliberately still contains the retracted
    # doc's text — exclusion must come from the store, not the caller
    assert store.ingest(d.where(F.col("doc_id") % 2 == 1), "b1", corpus=d)
    incident = store.edges().where(
        (F.col("id_a") == victim) | (F.col("id_b") == victim)
    )
    assert incident.count() == 0
    # and the rest of the graph equals the one-shot build on the
    # remaining corpus (the retraction removed exactly one node)
    rest = d.where(F.col("doc_id") != victim)
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in D.minhash_near_duplicates(
            rest, "text", "doc_id", est_margin=None, **P
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in store.edges().collect()
    )
    assert got == want


def test_edgestore_band_scan_prunes_to_touched_buckets(spark, tmp_path):
    """The candidate join's stored-side scan partition-prunes to the
    bucket partitions the batch touches: for a single-document batch
    against a populated store, the files actually read from _bands
    are a strict subset of the files on disk, and the physical plan
    carries the bh_mod partition filter."""
    import glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.functions import input_file_name

    from etl_database_spark.functions import dedup as D
    from etl_database_spark.operators.edgestore import EdgeStore
    from etl_database_spark.queries import table

    P = dict(n=5, num_perm=32, bands=4, threshold=0.3, min_agree=3)
    d = table(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("doc_id") < 300
    )
    store = EdgeStore(spark, str(tmp_path / "edges"), band_buckets=64, **P)
    assert store.ingest(d, "bulk", corpus=d)

    one_doc = D.minhash_signatures(
        D.shingles(d.where(F.col("doc_id") == 3), "text", "doc_id", P["n"]),
        P["num_perm"],
    )
    banded = D.band_table(one_doc, P["num_perm"], P["bands"])
    # a 1-doc batch touches <= bands distinct buckets -> <= 4 of 64
    pairs = store._candidate_pairs(banded, store._batch_band_mods("bulk"))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "bh_mod" in plan, plan
    on_disk = {
        os.path.dirname(p)
        for p in glob.glob(
            os.path.join(store.path, EdgeStore.BANDS_SUBDIR, "batch=*", "bh_mod=*", "*.parquet")
        )
    }
    assert len(on_disk) > 8, "fixture must spread across many bucket partitions"
    mods = {
        r.m
        for r in banded.select(
            store._band_mod(64).alias("m")
        ).distinct().collect()
    }
    assert len(mods) <= P["bands"]
    read_dirs = {
        os.path.dirname(r.f)
        for r in store.spark.read.parquet(
            os.path.join(store.path, EdgeStore.BANDS_SUBDIR)
        )
        .where(F.col("bh_mod").isin(list(mods)))
        .select(input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert read_dirs and len(read_dirs) < len(on_disk)


def test_edgestore_rejects_band_buckets_below_one(spark, tmp_path):
    """The band table is always bucket-partitioned, so a bucket count
    below 1 is refused at construction."""
    from etl_database_spark.operators.edgestore import EdgeStore

    with pytest.raises(ValueError, match="band_buckets"):
        EdgeStore(spark, str(tmp_path / "edges"), band_buckets=0)
