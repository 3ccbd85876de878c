"""Round-9 hardening regressions: the ANN ground-truth artifact, the
large-k IVF gate entry, the no-collect IVF variant, the simhash
content-free guard, the multimodal ASCII runtime assertion, and the
artifact-store concurrency contract."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# ANN ground-truth artifact (VERDICT r8 item 1)
# ---------------------------------------------------------------------------


def test_ann_truth_artifact_matches_pure_path(spark, sf_small):
    """The cached truth pairs must equal the pure brute-force
    recompute — the same staleness contract as the minhash/simhash
    signature artifacts."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    pure = S.ann_truth_topk(emb)
    cached = S._load_or_build_ann_truth(spark, emb, sf_small)
    assert sorted(map(tuple, pure.collect())) == sorted(map(tuple, cached.collect()))


def test_recall_report_reads_truth_artifact(spark, sf_small):
    """The registered entry must actually consume the cached parquet
    (a silent fallback to the brute-force recompute stays correct, so
    only a plan assertion catches the caching regressing away)."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.similarity import (
        q_ann_recall_report,
    )

    plan = (
        q_ann_recall_report(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "corpus_artifacts" in plan, "recall report does not scan the truth artifact"


# ---------------------------------------------------------------------------
# Large-k IVF gate entry (VERDICT r8 item 2)
# ---------------------------------------------------------------------------


def test_largek_profile_runs_the_kernel_branch(spark, sf_small):
    """ann_ivf_largek_profile exists to put the Arrow-kernel
    assignment plan (the 100 TB shape, k > _LITERAL_K_MAX) under the
    gates — its plan must contain the mapInPandas assignment, not the
    literal-matrix codegen expression, and its recall contract must
    hold."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S

    assert S._LARGEK_CLUSTERS > S._LITERAL_K_MAX
    df = S.q_ann_ivf_largek_profile(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["recall_ok"] is True
    assert rows[0]["n_clusters"] == S._LARGEK_CLUSTERS


# ---------------------------------------------------------------------------
# No-collect IVF variant (ADVICE r8: _QUERY_COLLECT_CAP had no
# registry-compatible escape path)
# ---------------------------------------------------------------------------


def test_ivf_assignment_artifact_matches_pure_path(spark, sf_small):
    """The cached (vec_id, embedding, cluster) inverted-list table
    must equal the pure assignment recompute — the bucket-write analog
    the IVF docstrings promise at cluster scale."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = S._load_or_train_quantizer(emb, sf_small, n_clusters=16, iters=1)
    pure = S._assign_base(emb, cent).select("vec_id", "cluster")
    cached = S._load_or_build_ivf_assignment(
        spark, emb, sf_small, cent, (16, 1, "hs1")
    ).select("vec_id", "cluster")
    assert sorted(map(tuple, pure.collect())) == sorted(map(tuple, cached.collect()))


def test_registered_ivf_entries_read_the_assignment_artifact(spark, sf_small):
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.similarity import (
        q_ann_topk_ivf,
    )

    plan = (
        q_ann_topk_ivf(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    )
    assert "corpus_artifacts" in plan


def test_pq_stored_codes_match_on_the_fly_encode(spark, sf_small):
    """pq_topk fed the codes artifact must return exactly what the
    on-the-fly encode returns (shared _pq_encode makes them identical
    by construction; this guards the plumbing)."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    books = S._load_or_train_pq(emb, sf_small, m=8, k_codes=16)
    fly = S.pq_topk(emb, emb, k=5, codebooks=books).collect()
    coded = S._load_or_build_pq_codes(spark, emb, sf_small, books, (8, 16, "hs1"))
    stored = S.pq_topk(emb, emb, k=5, codebooks=books, coded=coded).collect()
    assert fly == stored
    assert len(fly) > 0


def test_lsh_sig_artifact_matches_pure_paths(spark, sf_small):
    """All three LSH consumers fed the stored signature table must
    return exactly what the per-run signature fold returns: the top-k
    search, the near-dup pairs, and the lane-unpacked bucket profile."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.dedup import (
        embedding_near_dup_lsh,
    )
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    sigs = S._load_or_build_lsh_sigs(spark, emb, sf_small)

    fly = S.lsh_topk_broadcast(emb, emb, k=5).collect()
    stored = S.lsh_topk_broadcast(emb, emb, k=5, sig_table=sigs).collect()
    assert fly == stored and len(fly) > 0

    fly_p = embedding_near_dup_lsh(emb, threshold=0.4).collect()
    stored_p = embedding_near_dup_lsh(emb, threshold=0.4, sig_table=sigs).collect()
    assert fly_p == stored_p and len(fly_p) > 0

    lanes = sorted(
        map(tuple, S.unpack_sig_lanes(sigs, 8, 4).collect())
    )
    pure_lanes = sorted(
        map(tuple, S.lsh_signatures(S.valid_vectors(emb), 8, 4).collect())
    )
    assert lanes == pure_lanes


def test_ivf_shuffle_plan_hygiene(spark, sf_small):
    """ivf_topk_shuffle is not a registry entry, so the whole-registry
    hygiene gate never sees it — assert its plan directly: no
    cartesian product, no row-at-a-time Python UDF."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = S._load_or_train_quantizer(emb, sf_small, n_clusters=16, iters=1)
    plan = (
        S.ivf_topk_shuffle(emb, emb, k=5, n_clusters=16, nprobe=4, centroids=cent)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_shuffle_matches_collect_path_small_k(spark, sf_small):
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = S._load_or_train_quantizer(emb, sf_small, n_clusters=16, iters=1)
    a = S.ivf_topk(emb, emb, k=5, n_clusters=16, nprobe=4, centroids=cent).collect()
    b = S.ivf_topk_shuffle(
        emb, emb, k=5, n_clusters=16, nprobe=4, centroids=cent
    ).collect()
    assert a == b
    assert len(a) > 0


def test_ivf_shuffle_matches_collect_path_large_k(spark, sf_small):
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = S._load_or_train_quantizer(
        emb, sf_small, n_clusters=S._LARGEK_CLUSTERS, iters=1
    )
    a = S.ivf_topk(
        emb, emb, k=5, n_clusters=len(cent), nprobe=20, centroids=cent
    ).collect()
    b = S.ivf_topk_shuffle(
        emb, emb, k=5, n_clusters=len(cent), nprobe=20, centroids=cent
    ).collect()
    assert a == b
    assert len(a) > 0


# ---------------------------------------------------------------------------
# SimHash content-free guard (ADVICE r8: empty/whitespace-only texts
# produced identical fingerprints and band-matched at hamming 0)
# ---------------------------------------------------------------------------


def test_simhash_drops_content_free_docs(spark):
    """Empty and all-space texts must yield no fingerprint (and hence
    no pairs) on the fast path, exactly like the minhash empty-shingle
    guard — and the ORACLE carries the same trim predicate so the two
    engines cannot diverge on a pathological corpus."""
    import duckdb

    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.dedup import (
        ORACLE_SIMHASH_PORTABLE,
        simhash_fingerprints,
        simhash_pairs,
    )

    rows = [
        (1, "", "en", "src0"),
        (2, "   ", "en", "src0"),
        (3, None, "en", "src0"),
        (4, "real tokens here", "en", "src0"),
        (5, "real tokens here", "en", "src0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    for portable in (False, True):
        fps = simhash_fingerprints(docs, portable=portable)
        assert sorted(r["doc_id"] for r in fps.collect()) == [4, 5]
        pairs = simhash_pairs(docs, portable=portable).collect()
        assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(4, 5)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(1, '', 'en', 'src0'), (2, '   ', 'en', 'src0'), "
                "(3, NULL, 'en', 'src0'), (4, 'real tokens here', 'en', 'src0'), "
                "(5, 'real tokens here', 'en', 'src0')"
                ") t(doc_id, text, lang, source)")
    oracle = con.execute(ORACLE_SIMHASH_PORTABLE).fetchall()
    assert [(a, b) for a, b, _ in oracle] == [(4, 5)]


# ---------------------------------------------------------------------------
# PCA / whitening report
# ---------------------------------------------------------------------------


def test_pca_report_matches_numpy_and_survives_pathology(spark):
    """The distributed integer-exact covariance trace must equal the
    plain numpy population variance, and NULL / wrong-dim /
    NaN-bearing vectors must be excluded (counted), never poison the
    sums or abort the job."""
    import numpy as np

    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.vectors import (
        pca_report,
    )

    rng = np.random.RandomState(3)
    good = rng.standard_normal((40, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in good[i]], 0) for i in range(40)]
    rows.append((100, None, 0))                           # NULL
    rows.append((101, [1.0] * 8, 0))                      # wrong dim
    bad = [1.0] * 64
    bad[7] = float("nan")
    rows.append((102, bad, 0))                            # NaN-bearing
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = pca_report(emb).collect()[0]
    assert r["n_vectors"] == 40 and r["n_excluded"] == 3
    assert r["eig_ok"] is True and r["ortho_ok"] is True
    # numpy twin on the SAME integer-scaled values the pipeline sums
    sc = np.floor(good.astype(np.float64) * 1e4 + 0.5)
    expect = (sc.var(axis=0).sum()) / 1e8
    assert abs(r["total_var_r6"] - expect) < 1e-5


def test_pca_report_empty_corpus(spark):
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.vectors import (
        pca_report,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    r = pca_report(emb).collect()[0]
    assert tuple(r) == (0, 0, 64, 0.0, True, True)


def test_artifact_builders_cover_every_store_kind():
    """bench's artifact_build block only stays honest if every
    corpus_artifact kind in the codebase has a cold builder — a new
    artifact family added without one would silently revert its build
    cost to unmeasured. The kinds list is maintained here; extend BOTH
    when adding a family."""
    import inspect

    from filmdb_data_warehouse___power_bi_dashboard_spark import artifacts
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import (
        dedup,
        similarity,
    )

    known_kinds = {
        "postings", "tfpostings", "minhashsig", "simhashfp", "jacpairs",
        "ivf", "pq", "anntruth", "ivfassign", "pqcodes", "lshsig",
    }
    # every known kind has a builder whose name starts with it
    src = inspect.getsource(artifacts)
    missing = [k for k in known_kinds if f'"{k}' not in src]
    assert not missing, f"artifact kinds with no cold builder: {missing}"
    # and the codebase introduces no kind outside the known set
    code = inspect.getsource(dedup) + inspect.getsource(similarity)
    import re

    for m in re.finditer(r'corpus_artifact\(\s*\n?\s*sf_dir,\s*\n?\s*"[a-z]+",\s*\n?\s*f?"([a-z]+)', code):
        assert any(m.group(1).startswith(k) or k.startswith(m.group(1)) for k in known_kinds), (
            f"new artifact kind {m.group(1)!r} — add a cold builder to "
            "artifacts.py and extend known_kinds here"
        )


# ---------------------------------------------------------------------------
# Definition-hash tripwire (ADVICE r8: a forgotten changed_round bump
# left stale driver evidence silently inside the gate window)
# ---------------------------------------------------------------------------


def test_gate_history_definition_hashes_are_current():
    """Every registered query's stored def_hash must match the current
    source+oracle hash — editing a query or its oracle without running
    scripts/update_gate_history.py --round N (which refreshes the hash
    AND dates the change) fails here instead of passing unnoticed."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.queries import (
        _gate_history,
        definition_hashes,
    )

    hist = _gate_history()
    current = definition_hashes()
    drift = {
        name: (hist.get(name, {}).get("def_hash"), h)
        for name, h in current.items()
        if hist.get(name, {}).get("def_hash") != h
    }
    assert not drift, (
        "query definitions changed without a recorded changed_round — run "
        "scripts/update_gate_history.py --round <N>, with N the round that "
        "edited them, after that round's last query or oracle edit: "
        f"{sorted(drift)}"
    )


# ---------------------------------------------------------------------------
# Multimodal ASCII invariant — asserted at run time (VERDICT r8 item 4)
# ---------------------------------------------------------------------------


def test_ascii_guard_fails_loud_on_non_ascii_payload(spark):
    """A non-ASCII documents fixture must fail with a clear
    precondition message naming the media_id — not an opaque driver
    hash mismatch a round later."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.multimodal import (
        ascii_guarded,
        extract_frame_features,
        synthesize_media,
    )

    docs = spark.createDataFrame(
        [(2, "plain ascii video text"), (5, "café au lait — non-ascii")],
        "doc_id long, text string",
    )
    media = ascii_guarded(synthesize_media(docs))
    with pytest.raises(SparkRuntimeException, match="precondition violated.*media_id=5"):
        media.collect()
    # the frame twin consumes the guard: same loud failure end-to-end
    with pytest.raises(Exception, match="precondition violated"):
        extract_frame_features(media, k=4).collect()


def test_ascii_guard_passes_ascii_payloads_through(spark):
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators.multimodal import (
        ascii_guarded,
        synthesize_media,
    )

    docs = spark.createDataFrame(
        [(1, "plain ascii"), (2, None)], "doc_id long, text string"
    )
    rows = ascii_guarded(synthesize_media(docs)).select("media_id").collect()
    assert sorted(r["media_id"] for r in rows) == [1, 2]


# ---------------------------------------------------------------------------
# Artifact-store concurrency (VERDICT r8 item 5): two builders racing
# os.replace on the same record — last-writer-wins is the contract,
# and the surviving record must load as a valid artifact.
# ---------------------------------------------------------------------------


def test_artifact_store_concurrent_builders_last_writer_wins(tmp_path):
    from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import (
        corpus_artifact,
        json_artifact_io,
    )

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"race-corpus-bytes")
    save, load = json_artifact_io()
    params = ("race-test", str(tmp_path))  # unique store key per test run

    def save_a(art, path):
        # Builder B's COMPLETE build+commit lands while A is mid-save
        # (the worst interleaving: A then overwrites a fresher record
        # with an equally-valid one).
        corpus_artifact(
            str(tmp_path), "documents", "race", params,
            lambda: {"who": "B"}, save, load, memo=False,
        )
        save(art, path)

    a = corpus_artifact(
        str(tmp_path), "documents", "race", params,
        lambda: {"who": "A"}, save_a, load, memo=False,
    )
    # Last writer (A) wins and its record is what the caller got back.
    assert a == {"who": "A"}
    # The surviving record is valid: a third builder LOADS it instead
    # of rebuilding (deterministic artifacts make either record
    # acceptable — the contract is validity, not arbitration).
    c = corpus_artifact(
        str(tmp_path), "documents", "race", params,
        lambda: {"who": "C"}, save, load, memo=False,
    )
    assert c == {"who": "A"}


def test_ivf_shuffle_has_no_driver_collect_of_queries(spark, sf_small, monkeypatch):
    """The whole point of the variant: it must never route the query
    side through _capped_collect, even with the cap forced to zero."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.operators import similarity as S
    from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import read_table

    emb = read_table(spark, sf_small, "embeddings")
    cent = S._load_or_train_quantizer(emb, sf_small, n_clusters=16, iters=1)
    monkeypatch.setattr(S, "_QUERY_COLLECT_CAP", 0)
    with pytest.raises(ValueError, match="ivf_topk_shuffle"):
        S.ivf_topk(emb, emb, k=5, n_clusters=16, nprobe=4, centroids=cent).collect()
    rows = S.ivf_topk_shuffle(
        emb, emb, k=5, n_clusters=16, nprobe=4, centroids=cent
    ).collect()
    assert len(rows) > 0
