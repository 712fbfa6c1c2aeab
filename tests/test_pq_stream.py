"""Streaming IVF-PQ encode against a persisted index
(streaming.ops.ivfpq_encode_stream + datapipe.similarity.ivfpq_encode):
the crawl-increment story — build the index once in batch, save the
artifacts, then PQ-encode a document firehose with a stateless
append-mode plan that is BIT-identical to the batch encoding."""

import tempfile

import pytest
from pyspark.sql import functions as F

from scalecast_spark.datapipe.artifacts import (
    load_centroids,
    load_pq_codebooks,
    save_centroids,
    save_pq_codebooks,
)
from scalecast_spark.datapipe.embed import embed_docs
from scalecast_spark.datapipe.similarity import (
    ivf_centroids,
    ivfpq_encode,
    pq_codebooks,
    pq_codebooks_residual,
)
from scalecast_spark.sources import load_table

DIM, M, KSUB, NCELLS = 16, 4, 8, 4


@pytest.fixture(scope="module")
def index_art(spark, sf_dir, tmp_path_factory):
    """Batch index build on the documents fixture: hashing-trick
    embeddings -> IVF centroids + plain & residual PQ codebooks,
    persisted as JSON artifacts (the engine-portable envelope)."""
    root = tmp_path_factory.mktemp("pqidx")
    emb = embed_docs(load_table(spark, sf_dir, "documents"), dim=DIM)
    emb = emb.filter(F.col("embedding").isNotNull())
    cents = ivf_centroids(emb, NCELLS, "embedding", "doc_id")
    books = pq_codebooks(emb, M, KSUB, "embedding", "doc_id")
    rbooks = pq_codebooks_residual(emb, cents, M, KSUB, "embedding", "doc_id")
    cp, bp, rp = str(root / "cents"), str(root / "books"), str(root / "rbooks")
    save_centroids(cents, cp)
    save_pq_codebooks(books, bp)
    save_pq_codebooks(rbooks, rp)
    return cp, bp, rp, emb


def test_artifact_roundtrip(index_art):
    cp, bp, _, _ = index_art
    cents = load_centroids(cp)
    books = load_pq_codebooks(bp)
    assert len(cents) == NCELLS and len(cents[0][1]) == DIM
    assert len(books) == M and len(books[0]) == KSUB
    assert len(books[0][0][1]) == DIM // M


def test_ivfpq_encode_batch_shape(index_art):
    """Every doc gets a 1-based cell and an m-array of 1-based codes;
    NULL embeddings pass through as NULL cell/codes."""
    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    with_null = emb.unionByName(
        spark.createDataFrame(
            [(999_999_999, None)], "doc_id long, embedding array<double>"
        )
    )
    out = ivfpq_encode(with_null, cents, books).toPandas()
    nn = out[out["doc_id"] != 999_999_999]
    assert nn["cell"].between(1, NCELLS).all()
    assert all(len(c) == M for c in nn["pq_codes"])
    assert all(1 <= x <= KSUB for c in nn["pq_codes"] for x in c)
    null_row = out[out["doc_id"] == 999_999_999].iloc[0]
    assert null_row["cell"] is None or null_row["cell"] != null_row["cell"]
    assert null_row["pq_codes"] is None


def test_encode_matches_topk_internal_codes(index_art):
    """ivfpq_encode must agree with the codes ivfpq_topk assigns
    internally (shared _pq_encode_cols): re-derive the topk path's
    encode on the same frame and compare cell+codes row by row."""
    cp, bp, _, emb = index_art
    from scalecast_spark.datapipe.similarity import (
        _cell_of,
        _pq_encode_cols,
    )

    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    via_encode = (
        ivfpq_encode(emb, cents, books)
        .select("doc_id", "cell", "pq_codes")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    internal = _pq_encode_cols(
        emb.withColumn(
            "_cell", _cell_of(F.col("embedding").cast("array<double>"), cents)
        ),
        cents,
        books,
        "embedding",
        residual=False,
    )
    via_topk = (
        internal.selectExpr(
            "doc_id",
            "cast(_cell as int) AS cell",
            "array(" + ", ".join(f"_code{s}" for s in range(M)) + ") AS pq_codes",
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (via_encode["cell"] == via_topk["cell"]).all()
    assert [list(c) for c in via_encode["pq_codes"]] == [
        list(c) for c in via_topk["pq_codes"]
    ]


@pytest.mark.parametrize("residual", [False, True])
def test_stream_encode_bit_identical_to_batch(
    spark, sf_dir, index_art, residual
):
    """AvailableNow drain of ivfpq_encode_stream == batch
    embed_docs -> ivfpq_encode, cell and codes EXACTLY equal (integer
    sums + literal lookup tables leave no float ambiguity)."""
    from scalecast_spark.streaming import (
        ivfpq_encode_stream,
        run_available_now,
        stream_documents,
    )

    cp, bp, rp, emb = index_art
    cents = load_centroids(cp)
    books = load_pq_codebooks(rp if residual else bp)
    batch = (
        ivfpq_encode(emb, cents, books, residual=residual)
        .select("doc_id", "cell", "pq_codes")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    stream = ivfpq_encode_stream(
        stream_documents(spark, f"{sf_dir}/documents.parquet"),
        cp,
        rp if residual else bp,
        dim=DIM,
        residual=residual,
    ).select("doc_id", "cell", "pq_codes")
    assert stream.isStreaming
    with tempfile.TemporaryDirectory() as ckpt:
        got = (
            run_available_now(
                stream, f"q_pq_stream_{int(residual)}", ckpt,
                output_mode="append",
            )
            .filter(F.col("pq_codes").isNotNull())
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    assert len(got) == len(batch) > 0
    assert (got["cell"].to_numpy() == batch["cell"].to_numpy()).all()
    assert [list(c) for c in got["pq_codes"]] == [
        list(c) for c in batch["pq_codes"]
    ]


@pytest.mark.parametrize("residual", [False, True])
def test_search_over_code_table_matches_topk(index_art, residual):
    """Serve-side path (round 8): ivfpq_search over the persisted
    (id, cell, pq_codes) table, with the raw vectors kept for the
    exact re-rank, returns BIT-identically what ivfpq_topk returns
    against the same prebuilt index — the gate's ivfpq hash therefore
    certifies the serve path too."""
    from scalecast_spark.datapipe.similarity import ivfpq_search, ivfpq_topk

    cp, bp, rp, emb = index_art
    cents = load_centroids(cp)
    books = load_pq_codebooks(rp if residual else bp)
    q = [float(x) for x in
         emb.orderBy("doc_id").select("embedding").limit(1).collect()[0][0]]
    via_topk = ivfpq_topk(
        emb, q, k=5, nprobe=2, residual=residual,
        cents=cents, books=books, id_col="doc_id",
    ).collect()
    codes = ivfpq_encode(emb, cents, books, residual=residual)
    via_search = ivfpq_search(
        codes, cents, books, q, k=5, nprobe=2, residual=residual,
        id_col="doc_id", vec_col="embedding",
    ).collect()
    assert [r.asDict() for r in via_topk] == [r.asDict() for r in via_search]
    assert len(via_topk) == 5


def test_search_codes_only_no_vectors(index_art):
    """Codes-only deployment: search a code table that DROPPED the
    raw vectors (the m-bytes/vector serving shape) — ADC rank only,
    schema (id, adc_sim), candidates confined to the probed cells."""
    from scalecast_spark.datapipe.similarity import ivfpq_search

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    q = [float(x) for x in
         emb.orderBy("doc_id").select("embedding").limit(1).collect()[0][0]]
    codes = ivfpq_encode(emb, cents, books).select(
        "doc_id", "cell", "pq_codes"
    )
    got = ivfpq_search(
        codes, cents, books, q, k=5, nprobe=2, id_col="doc_id"
    )
    assert got.columns == ["doc_id", "adc_sim"]
    rows = got.collect()
    assert len(rows) == 5
    sims = [r["adc_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    # self-query: the query vector's own doc must surface
    assert rows[0]["doc_id"] == 0


def test_stream_encoded_table_searchable(spark, sf_dir, index_art):
    """End-to-end crawl-increment + serve: the STREAM-encoded code
    table (ivfpq_encode_stream drain) searches identically to the
    batch-encoded one — encode bit-parity extends through the serve
    path."""
    from scalecast_spark.datapipe.similarity import ivfpq_search
    from scalecast_spark.streaming import (
        ivfpq_encode_stream,
        run_available_now,
        stream_documents,
    )

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    q = [float(x) for x in
         emb.orderBy("doc_id").select("embedding").limit(1).collect()[0][0]]
    stream = ivfpq_encode_stream(
        stream_documents(spark, f"{sf_dir}/documents.parquet"),
        cp, bp, dim=DIM,
    ).select("doc_id", "cell", "pq_codes")
    with tempfile.TemporaryDirectory() as ckpt:
        drained = run_available_now(
            stream, "q_pq_serve_stream", ckpt, output_mode="append"
        ).filter(F.col("pq_codes").isNotNull())
        drained = spark.createDataFrame(drained.toPandas())
        got = ivfpq_search(
            drained, cents, books, q, k=5, nprobe=2, id_col="doc_id"
        ).collect()
    batch_codes = ivfpq_encode(emb, cents, books).select(
        "doc_id", "cell", "pq_codes"
    )
    want = ivfpq_search(
        batch_codes, cents, books, q, k=5, nprobe=2, id_col="doc_id"
    ).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


@pytest.mark.parametrize("residual", [False, True])
def test_batch_search_matches_single_query(index_art, residual):
    """ivfpq_search_batch (round 8): Q queries in one job must return,
    per query, exactly what Q ivfpq_search calls return — the ADC
    tables/probe sets move in-plan but the arithmetic and (score desc,
    id) tie-break are the same."""
    from scalecast_spark.datapipe.similarity import (
        ivfpq_search,
        ivfpq_search_batch,
    )

    cp, bp, rp, emb = index_art
    spark = emb.sparkSession
    cents = load_centroids(cp)
    books = load_pq_codebooks(rp if residual else bp)
    codes = ivfpq_encode(emb, cents, books, residual=residual)
    qrows = emb.orderBy("doc_id").limit(4).collect()
    queries = spark.createDataFrame(
        [(r["doc_id"], r["embedding"]) for r in qrows],
        "query_id long, embedding array<double>",
    )
    batch = ivfpq_search_batch(
        codes, queries, cents, books, k=5, nprobe=2, residual=residual,
        id_col="doc_id", vec_col="embedding",
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["cosine_sim"])
        )
    for r in qrows:
        single = ivfpq_search(
            codes, cents, books, [float(x) for x in r["embedding"]],
            k=5, nprobe=2, residual=residual,
            id_col="doc_id", vec_col="embedding",
        ).collect()
        assert got[r["doc_id"]] == [
            (x["doc_id"], x["cosine_sim"]) for x in single
        ]


def test_batch_search_plan_shape(index_art, tmp_path):
    """The batch-serve plan must keep its scale guarantees: queries
    broadcast (code table never shuffles for the join), the rank
    filter compiles to map-side WindowGroupLimit, and a
    cell-partitioned code table gets dynamic partition pruning."""
    from scalecast_spark.datapipe.similarity import ivfpq_search_batch

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    path = str(tmp_path / "codes")
    ivfpq_encode(emb, cents, books).write.partitionBy("cell").parquet(path)
    codes = spark.read.parquet(path)
    queries = (
        emb.orderBy("doc_id").limit(3)
        .selectExpr("doc_id AS query_id", "embedding")
    )
    out = ivfpq_search_batch(
        codes, queries, cents, books, k=5, nprobe=2, id_col="doc_id"
    )
    out.count()  # finalize AQE so the executed plan is inspectable
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the plan-RENDERING substrings below are pinned against Spark 4.x;
    # a Spark upgrade that renames nodes should produce this clear skip
    # rather than an opaque substring mismatch (the semantics they pin
    # — broadcast join, map-side group-limit, dynamic pruning — don't
    # go away with a rename)
    major = int(spark.version.split(".")[0])
    if major != 4:
        pytest.skip(
            f"plan-shape substrings pinned for Spark 4.x plan "
            f"rendering; running {spark.version} — re-pin the node "
            f"names for this version"
        )
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    # pruned scan: the r15 driver-side query-table path knows the
    # probed cells up front and plants a STATIC `cell IN (...)`
    # PartitionFilter; the in-plan fallback relies on runtime DPP.
    # Either way the code-table scan must read only probed cells.
    assert "dynamicpruning" in plan or any(
        "PartitionFilters" in ln and "cell" in ln and "IN" in ln
        for ln in plan.splitlines()
    )
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("residual", [False, True])
def test_batch_driver_tables_match_inplan(index_art, residual, monkeypatch):
    """The driver-side query-table path (sequential float64 folds +
    static cell pruning) must return BIT-identically what the in-plan
    transform/aggregate path returns — same rows, same scores, same
    tie-breaks. The in-plan oracle runs with ``_batch_qx_driver``
    patched to decline, as it does for degenerate query vectors."""
    from scalecast_spark.datapipe import similarity
    from scalecast_spark.datapipe.similarity import ivfpq_search_batch

    cp, bp, rp, emb = index_art
    spark = emb.sparkSession
    cents = load_centroids(cp)
    books = load_pq_codebooks(rp if residual else bp)
    codes = ivfpq_encode(emb, cents, books, residual=residual)
    queries = (
        emb.orderBy("doc_id").limit(6)
        .selectExpr("doc_id AS query_id", "embedding")
    )

    def run():
        return sorted(
            (r["query_id"], r["doc_id"], r["cosine_sim"])
            for r in ivfpq_search_batch(
                codes, queries, cents, books, k=5, nprobe=2,
                residual=residual, id_col="doc_id", vec_col="embedding",
            ).collect()
        )

    with monkeypatch.context() as mp:
        mp.setattr(similarity, "_batch_qx_driver", lambda *a: None)
        legacy = run()
    assert run() == legacy


def test_batch_driver_tables_degenerate_fallback(index_art, monkeypatch):
    """A NULL query vector must not break the batch path: the driver
    table builder declines (SQL NULL semantics belong in-plan) and
    the call transparently produces EXACTLY what the in-plan form
    produces for the same query set — including its NULL-scored rows
    for the NULL query. The in-plan oracle runs with
    ``_batch_qx_driver`` patched to decline outright."""
    from scalecast_spark.datapipe import similarity
    from scalecast_spark.datapipe.similarity import ivfpq_search_batch

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes = ivfpq_encode(emb, cents, books)
    good = emb.orderBy("doc_id").limit(2).selectExpr(
        "doc_id AS query_id", "embedding"
    )
    queries = good.unionByName(
        spark.createDataFrame(
            [(999_999_999, None)],
            "query_id long, embedding array<double>",
        )
    )

    def run():
        return sorted(
            (r["query_id"], r["doc_id"], r["adc_sim"])
            for r in ivfpq_search_batch(
                codes, queries, cents, books, k=3, nprobe=2,
                id_col="doc_id",
            ).collect()
        )

    with monkeypatch.context() as mp:
        mp.setattr(similarity, "_batch_qx_driver", lambda *a: None)
        legacy = run()
    got = run()
    assert got == legacy
    good_qids = {r[0] for r in got if r[2] is not None}
    assert good_qids == {r["query_id"] for r in good.collect()}


def test_query_stream_served_matches_batch(spark, index_art, tmp_path):
    """ivfpq_search_stream: a drained query firehose returns, per
    query, exactly what the batch operator returns on the same
    queries — the foreachBatch body IS ivfpq_search_batch, so parity
    extends the whole chain: single == batch == streamed."""
    from scalecast_spark.datapipe.similarity import ivfpq_search_batch
    from scalecast_spark.streaming import ivfpq_search_stream

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes_path = str(tmp_path / "codes")
    ivfpq_encode(emb, cents, books).write.partitionBy("cell").parquet(
        codes_path
    )
    qdir = str(tmp_path / "queries")
    queries = (
        emb.orderBy("doc_id").limit(5)
        .selectExpr("doc_id AS query_id", "embedding")
    )
    queries.write.parquet(qdir)
    qstream = (
        spark.readStream.schema("query_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    assert qstream.isStreaming
    got = ivfpq_search_stream(
        qstream, codes_path, cp, bp,
        results_path=str(tmp_path / "results"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=5, nprobe=2, id_col="doc_id", vec_col="embedding",
    ).toPandas().sort_values(["query_id", "cosine_sim", "doc_id"],
                             ascending=[True, False, True])
    want = ivfpq_search_batch(
        spark.read.parquet(codes_path), queries, cents, books,
        k=5, nprobe=2, id_col="doc_id", vec_col="embedding",
    ).toPandas().sort_values(["query_id", "cosine_sim", "doc_id"],
                             ascending=[True, False, True])
    assert len(got) == len(want) == 25
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_search_stream_rejects_reused_results_path(
    spark, index_art, tmp_path
):
    """A reused results_path must raise up front, never silently merge
    a previous run's appended rows into this run's answer. The check
    fires before any artifact load or query start, so no checkpoint or
    stream state is created either."""
    from scalecast_spark.streaming import ivfpq_search_stream

    cp, bp, _, emb = index_art
    stale = tmp_path / "results"
    stale.mkdir()
    (stale / "part-stale.parquet").write_bytes(b"")
    (tmp_path / "queries").mkdir()
    qstream = (
        spark.readStream.schema("query_id long, embedding array<double>")
        .parquet(str(tmp_path / "queries"))
    )
    with pytest.raises(FileExistsError, match="already\\s+exists"):
        ivfpq_search_stream(
            qstream, str(tmp_path / "codes"), cp, bp,
            results_path=str(stale),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert not (tmp_path / "ckpt").exists()


def test_batch_matches_single_on_random_vectors(spark):
    """Off-fixture guard for the one representational difference
    between the batch and single-query serve paths: probe-cell
    selection and query norms use sequential SQL aggregate folds
    in-plan vs numpy dots on the driver. Random corpora across
    several seeds must still produce identical per-query results
    (cells are well-separated in dot space away from measure-zero
    ties, and everything downstream is 6dp-rounded)."""
    import numpy as np

    from scalecast_spark.datapipe.similarity import (
        ivf_centroids,
        ivfpq_encode,
        ivfpq_search,
        ivfpq_search_batch,
        pq_codebooks,
    )

    for seed in (0, 1, 2):
        rng = np.random.RandomState(seed)
        vecs = rng.randn(120, 16).round(3)  # round: parquet-free exactness
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        cents = ivf_centroids(emb, 4, "embedding", "vec_id")
        books = pq_codebooks(emb, 4, 8, "embedding", "vec_id")
        codes = ivfpq_encode(emb, cents, books)
        qidx = rng.choice(120, 3, replace=False)
        queries = spark.createDataFrame(
            [(int(i), [float(x) for x in vecs[i]]) for i in qidx],
            "query_id long, embedding array<double>",
        )
        batch = ivfpq_search_batch(
            codes, queries, cents, books, k=5, nprobe=2,
            vec_col="embedding",
        )
        got = {}
        for r in batch.collect():
            got.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["cosine_sim"])
            )
        for i in qidx:
            single = ivfpq_search(
                codes, cents, books, [float(x) for x in vecs[i]],
                k=5, nprobe=2, vec_col="embedding",
            ).collect()
            assert got[int(i)] == [
                (x["vec_id"], x["cosine_sim"]) for x in single
            ], f"seed={seed} query={i}"


def test_cosine_topk_batch_matches_single_and_recall(index_art):
    """cosine_topk_batch per-query == cosine_topk per query; ann_recall
    returns 1.0 against itself (scalar + per-query forms) and scores
    the IVF-PQ serve path sensibly in [0, 1]."""
    from scalecast_spark.datapipe.similarity import (
        ann_recall,
        cosine_topk,
        cosine_topk_batch,
        ivfpq_search_batch,
    )

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    qrows = emb.orderBy("doc_id").limit(3).collect()
    queries = spark.createDataFrame(
        [(r["doc_id"], r["embedding"]) for r in qrows],
        "query_id long, embedding array<double>",
    )
    batch = cosine_topk_batch(
        emb, queries, k=5, id_col="doc_id"
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["cosine_sim"])
        )
    for r in qrows:
        single = cosine_topk(
            emb, [float(x) for x in r["embedding"]], k=5, id_col="doc_id"
        ).collect()
        assert got[r["doc_id"]] == [
            (x["doc_id"], x["cosine_sim"]) for x in single
        ]
    # scalar recall of a frame against itself
    one = cosine_topk(
        emb, [float(x) for x in qrows[0]["embedding"]], k=5, id_col="doc_id"
    )
    assert ann_recall(one, one, id_col="doc_id") == 1.0
    # per-query recall: truth vs itself = 1.0 everywhere; ANN in [0,1]
    per = {
        r["query_id"]: r["recall"]
        for r in ann_recall(
            batch, batch, id_col="doc_id", qid_col="query_id"
        ).collect()
    }
    assert set(per.values()) == {1.0}
    ann = ivfpq_search_batch(
        ivfpq_encode(emb, cents, books), queries, cents, books,
        k=5, nprobe=2, id_col="doc_id", vec_col="embedding",
    )
    rec = {
        r["query_id"]: r["recall"]
        for r in ann_recall(
            ann, batch, id_col="doc_id", qid_col="query_id"
        ).collect()
    }
    assert set(rec) == set(per)
    assert all(0.0 <= v <= 1.0 for v in rec.values())


def test_ivfpq_tune_meets_target_and_is_cheapest(index_art):
    """The auto-tuner returns the CHEAPEST (nprobe asc, refine asc)
    config meeting the target. The reachable target is discovered
    from an exhaustive sweep first (ADC at this tiny M/KSUB is too
    coarse to promise any particular recall a priori), then the tuner
    must stop at the FIRST config in cost order that clears it."""
    from scalecast_spark.datapipe.similarity import ivfpq_tune

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes = ivfpq_encode(emb, cents, books)
    queries = (
        emb.orderBy("doc_id").limit(4)
        .selectExpr("doc_id AS query_id", "embedding")
    )
    kw = dict(
        corpus_df=emb, k=5, id_col="doc_id", vec_col="embedding",
        refines=(2, 4),
    )
    sweep = ivfpq_tune(
        codes, queries, cents, books, target_recall=2.0, **kw
    )
    assert sweep["met"] is False
    order = [(r["nprobe"], r["refine"]) for r in sweep["swept"]]
    assert order == sorted(order)  # cost order: nprobe asc, refine asc
    best = max(r["recall"] for r in sweep["swept"])
    assert 0.0 < best <= 1.0
    out = ivfpq_tune(
        codes, queries, cents, books, target_recall=best, **kw
    )
    assert out["met"] is True
    assert out["recall"] >= best
    # cheapest-first: the winner is the first sweep entry >= target
    first = next(r for r in sweep["swept"] if r["recall"] >= best)
    assert (out["nprobe"], out["refine"]) == (
        first["nprobe"], first["refine"]
    )
    # and the tuner stopped there, not after
    assert len(out["swept"]) == sweep["swept"].index(first) + 1


def test_ivfpq_tune_unreachable_target_reports_best(index_art):
    from scalecast_spark.datapipe.similarity import ivfpq_tune

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes = ivfpq_encode(emb, cents, books)
    queries = (
        emb.orderBy("doc_id").limit(2)
        .selectExpr("doc_id AS query_id", "embedding")
    )
    out = ivfpq_tune(
        codes, queries, cents, books, corpus_df=emb,
        target_recall=2.0, k=5, id_col="doc_id", nprobes=(1, 2),
    )
    assert out["met"] is False
    assert out["recall"] == max(r["recall"] for r in out["swept"])
    assert len(out["swept"]) == 2  # exhausted the sweep


def test_ivfpq_tune_requires_exactly_one_truth_source(index_art):
    from scalecast_spark.datapipe.similarity import ivfpq_tune

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    with pytest.raises(ValueError, match="exactly one"):
        ivfpq_tune(emb, emb, cents, books)


def test_ivfpq_compact_merges_increment_files(index_art, tmp_path):
    """The operational tail: many small appends (the streaming-
    increment shape) -> one file per cell, same rows, fewer files;
    in-place rewrite refused; files_per_cell splits hot cells."""
    from scalecast_spark.datapipe.similarity import (
        ivfpq_cell_stats,
        ivfpq_compact,
    )

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    frag = str(tmp_path / "frag")
    codes = ivfpq_encode(emb, cents, books).withColumnRenamed(
        "doc_id", "vec_id"
    )
    for i in range(5):  # 5 "micro-batches" of appends
        codes.filter(F.pmod(F.col("vec_id"), F.lit(5)) == i).repartition(
            4
        ).write.mode("append").partitionBy("cell").parquet(frag)
    out = str(tmp_path / "compacted")
    stats = ivfpq_compact(spark, frag, out)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == codes.count()
    before = ivfpq_cell_stats(spark.read.parquet(frag)).collect()
    after = ivfpq_cell_stats(spark.read.parquet(out)).collect()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]
    # one file per cell when files_per_cell=1
    n_cells_present = len(after)
    assert stats["files_after"] == n_cells_present
    with pytest.raises(ValueError, match="must differ"):
        ivfpq_compact(spark, frag, frag + "/")
    # hot-cell splitting: more output files allowed, rows identical
    out2 = str(tmp_path / "compacted2")
    stats2 = ivfpq_compact(spark, frag, out2, files_per_cell=2)
    assert stats2["rows"] == stats["rows"]
    assert stats2["files_after"] >= stats["files_after"]


def test_ivfpq_assign_stats_and_drift(index_art):
    """Baseline-vs-increment drift: the build corpus scored against
    its own centroids is the baseline; a deliberately-corrupted
    increment (vectors negated -> cosine to every centroid flips)
    must show falling sims in the drift report, while an identical
    increment shows zero drift."""
    from scalecast_spark.datapipe.similarity import (
        ivfpq_assign_stats,
        ivfpq_drift,
    )

    cp, _, _, emb = index_art
    cents = load_centroids(cp)
    base = ivfpq_assign_stats(emb, cents)
    rows = base.collect()
    assert sum(r["n_rows"] for r in rows) == emb.count()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert all(-1.0 <= r["p05_sim"] <= r["avg_sim"] <= 1.0 for r in rows)
    # identical increment: zero drift on every joined cell
    same = ivfpq_drift(base, ivfpq_assign_stats(emb, cents)).collect()
    assert all(r["d_avg_sim"] == 0.0 for r in same)
    # corrupted increment: negated vectors score the OPPOSITE cosine
    bad = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    drift = ivfpq_drift(base, ivfpq_assign_stats(bad, cents)).collect()
    joined = [r for r in drift if r["d_avg_sim"] is not None]
    assert joined and all(r["d_avg_sim"] < 0 for r in joined)


def test_index_lifecycle_stream_compact_search(spark, sf_dir, index_art, tmp_path):
    """The full operate-the-index story in one flow: stream-encode the
    corpus (appends small files per micro-batch), compact to one file
    per cell, and verify search results over the compacted table are
    IDENTICAL to the fragmented one (compaction is physical layout
    only, never semantics)."""
    from scalecast_spark.datapipe.similarity import (
        ivfpq_compact,
        ivfpq_search,
    )
    from scalecast_spark.streaming import (
        ivfpq_encode_stream,
        stream_documents,
    )

    cp, bp, _, emb = index_art
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    frag = str(tmp_path / "lifecycle_codes")
    stream = ivfpq_encode_stream(
        stream_documents(spark, f"{sf_dir}/documents.parquet"),
        cp, bp, dim=DIM,
    ).select(
        F.col("doc_id").alias("vec_id"), "cell", "pq_codes"
    ).filter(F.col("pq_codes").isNotNull())
    q = (
        stream.writeStream.format("parquet")
        .option("path", frag)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .partitionBy("cell")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    compacted = str(tmp_path / "lifecycle_compacted")
    stats = ivfpq_compact(spark, frag, compacted)
    assert stats["rows"] > 0
    qv = [float(x) for x in
          emb.orderBy("doc_id").select("embedding").limit(1).collect()[0][0]]
    before = ivfpq_search(
        spark.read.parquet(frag), cents, books, qv, k=5, nprobe=2
    ).collect()
    after = ivfpq_search(
        spark.read.parquet(compacted), cents, books, qv, k=5, nprobe=2
    ).collect()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]


def test_ivfpq_delete_ids_partition_pruned(index_art, tmp_path):
    """Retraction: deleted ids leave the code table AND the serve
    results; untouched cell directories transfer FILE-IDENTICAL
    (names + sizes — proof they were linked, not re-encoded); absent
    ids count zero; in-place delete refused; accounting verified."""
    import os

    from scalecast_spark.datapipe.similarity import (
        ivfpq_delete_ids,
        ivfpq_search,
    )

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    src = str(tmp_path / "codes_v1")
    codes = ivfpq_encode(emb, cents, books).withColumnRenamed(
        "doc_id", "vec_id"
    )
    codes.repartition(F.col("cell")).write.partitionBy("cell").parquet(src)
    # pick 3 ids from ONE cell so at least one cell stays untouched
    one_cell = codes.groupBy("cell").count().orderBy("count").collect()
    victim_cell = int(one_cell[-1]["cell"])
    victims = [
        int(r["vec_id"])
        for r in codes.filter(F.col("cell") == victim_cell)
        .select("vec_id").orderBy("vec_id").limit(3).collect()
    ]
    dst = str(tmp_path / "codes_v2")
    stats = ivfpq_delete_ids(
        spark, src, dst, victims + [99_999_999]  # one absent id
    )
    assert stats["ids_deleted"] == 3
    assert stats["ids_requested"] == 4
    assert stats["rows_touched_after"] == stats["rows_touched_before"] - 3
    assert stats["cells_touched"] >= 1
    assert stats["cells_touched"] < stats["cells_total"]
    assert stats["untouched_transfer"] == "copy"
    # accounting scope is the touched cells, but the FULL table must
    # still reconcile (untouched cells transfer file-identically)
    assert (
        spark.read.parquet(dst).count()
        == spark.read.parquet(src).count() - stats["rows_deleted"]
    )
    out = spark.read.parquet(dst)
    assert out.filter(F.col("vec_id").isin(victims)).count() == 0
    # untouched cells: file listings identical (linked, not rewritten)
    touched_dirs = {f"cell={victim_cell}"}
    for d in os.listdir(src):
        if not d.startswith("cell=") or d in touched_dirs:
            continue
        a = sorted(
            (f, os.path.getsize(os.path.join(src, d, f)))
            for f in os.listdir(os.path.join(src, d))
            if not f.startswith((".", "_"))
        )
        b = sorted(
            (f, os.path.getsize(os.path.join(dst, d, f)))
            for f in os.listdir(os.path.join(dst, d))
            if not f.startswith((".", "_"))
        )
        assert a == b, d
    # the deleted ids can no longer be served
    q = [float(x) for x in
         emb.filter(F.col("doc_id") == victims[0])
         .select("embedding").first()[0]]
    hits = ivfpq_search(out, cents, books, q, k=5, nprobe=NCELLS)
    assert victims[0] not in [int(r["vec_id"]) for r in hits.collect()]
    with pytest.raises(ValueError, match="must differ"):
        ivfpq_delete_ids(spark, src, src, victims)
    with pytest.raises(FileExistsError, match="already exists"):
        ivfpq_delete_ids(spark, src, dst, victims)


def test_cross_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed incremental dedup == the batch operator on the same
    new corpus: keep/drop is per-new-doc vs the existing side only, so
    micro-batch splits cannot change any decision. Also pins the
    results_path reuse contract."""
    from scalecast_spark.datapipe.dedup import (
        cross_dedup,
        minhash_signatures,
        word_shingles,
    )
    from scalecast_spark.streaming import cross_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)
    sig_path = str(tmp_path / "ex_sigs")
    minhash_signatures(word_shingles(existing, 3), n_hashes=4).write.parquet(
        sig_path
    )
    new_dir = str(tmp_path / "new")
    # two files -> two micro-batches
    new.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(new_dir)
    new.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(new_dir)
    nstream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(new_dir)
    )
    got = cross_dedup_stream(
        nstream, ex_path,
        results_path=str(tmp_path / "survivors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        existing_sigs_path=sig_path,
    )
    want = cross_dedup(
        new, existing,
        existing_sigs=spark.read.parquet(sig_path),
    )
    got_ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    want_ids = sorted(r["doc_id"] for r in want.select("doc_id").collect())
    assert got_ids == want_ids
    assert len(got_ids) < new.count()  # something was actually dropped
    with pytest.raises(FileExistsError, match="already\\s+exists"):
        cross_dedup_stream(
            nstream, ex_path,
            results_path=str(tmp_path / "survivors"),
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )


def test_cross_dedup_stream_resume_contract(spark, sf_dir, tmp_path):
    """The sink contract's RESUME leg: drain file 1, then add file 2
    and rerun with the SAME results_path + checkpoint_dir — batch 0
    must be skipped (no duplicate survivors), batch 1 appended, and
    the union equal the one-shot answer. Mismatched path states fail
    fast in both directions."""
    from scalecast_spark.datapipe.dedup import cross_dedup
    from scalecast_spark.streaming import cross_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)
    new_dir = str(tmp_path / "new")
    res, ckpt = str(tmp_path / "survivors"), str(tmp_path / "ckpt")
    half1 = new.filter(F.col("doc_id") % 4 == 1)
    half2 = new.filter(F.col("doc_id") % 4 == 3)

    def drain():
        return cross_dedup_stream(
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1).parquet(new_dir),
            ex_path, results_path=res, checkpoint_dir=ckpt,
        )

    half1.coalesce(1).write.mode("append").parquet(new_dir)
    first = drain().select("doc_id").collect()
    first_ids = sorted(r["doc_id"] for r in first)
    half2.coalesce(1).write.mode("append").parquet(new_dir)
    resumed = drain().select("doc_id").collect()  # both paths exist
    got = sorted(r["doc_id"] for r in resumed)
    want = sorted(
        r["doc_id"]
        for r in cross_dedup(new, existing).select("doc_id").collect()
    )
    assert got == want  # batch 0 not re-run (else dup ids), batch 1 in
    assert set(first_ids) < set(got)
    # mismatched states: results without checkpoint / vice versa
    with pytest.raises(FileExistsError, match="checkpoint_dir"):
        cross_dedup_stream(
            spark.readStream.schema(new.schema).parquet(new_dir),
            ex_path, results_path=res,
            checkpoint_dir=str(tmp_path / "ckpt_fresh"),
        )
    with pytest.raises(FileNotFoundError, match="results_path"):
        cross_dedup_stream(
            spark.readStream.schema(new.schema).parquet(new_dir),
            ex_path, results_path=str(tmp_path / "res_fresh"),
            checkpoint_dir=ckpt,
        )


def test_sink_marker_binds_results_to_checkpoint(spark, sf_dir, tmp_path):
    """A checkpoint resumed against a DIFFERENT (but existing) results
    directory must be refused: bare existence checks pass for any
    mismatched pair, so the marker written at first start is what
    detects it."""
    from scalecast_spark.datapipe.dedup import cross_dedup  # noqa: F401
    from scalecast_spark.streaming import cross_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)
    new_dir = str(tmp_path / "new")
    new.coalesce(1).write.parquet(new_dir)
    res_a, ckpt = str(tmp_path / "res_a"), str(tmp_path / "ckpt")
    cross_dedup_stream(
        spark.readStream.schema(new.schema).parquet(new_dir),
        ex_path, results_path=res_a, checkpoint_dir=ckpt,
    )
    # a foreign results dir that happens to exist
    res_b = str(tmp_path / "res_b")
    spark.read.parquet(res_a).limit(1).write.parquet(res_b)
    with pytest.raises(FileExistsError, match="was created\\s+for"):
        cross_dedup_stream(
            spark.readStream.schema(new.schema).parquet(new_dir),
            ex_path, results_path=res_b, checkpoint_dir=ckpt,
        )


def test_ivfpq_delete_ids_duplicate_rows_accounting(index_art, tmp_path):
    """A re-sent streaming increment can leave the same vec_id in two
    rows; deleting that id must remove BOTH rows and report them
    separately: rows_deleted=2, ids_deleted=1 (and duplicate ids in
    the REQUEST are deduped: ids_requested counts distinct)."""
    from scalecast_spark.datapipe.similarity import ivfpq_delete_ids

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes = ivfpq_encode(emb, cents, books).withColumnRenamed(
        "doc_id", "vec_id"
    )
    victim = int(codes.select("vec_id").orderBy("vec_id").first()[0])
    dup = codes.unionByName(codes.filter(F.col("vec_id") == victim))
    src = str(tmp_path / "dup_codes")
    dup.repartition(F.col("cell")).write.partitionBy("cell").parquet(src)
    stats = ivfpq_delete_ids(
        spark, src, str(tmp_path / "dup_codes_v2"), [victim, victim]
    )
    assert stats["rows_deleted"] == 2
    assert stats["ids_deleted"] == 1
    assert stats["ids_requested"] == 1
    assert stats["rows_touched_after"] == stats["rows_touched_before"] - 2


def test_crash_between_output_and_commit_no_duplicates(spark, sf_dir, tmp_path):
    """The at-least-once window ADVICE r10 flagged: Spark writes
    offsets/<n> BEFORE executing batch n and commits/<n> AFTER — a
    crash in between re-runs the batch on resume. With the r11
    idempotent sink (each batch overwrites its own batch_id=<n> dir)
    the replay must NOT duplicate rows. Simulated by deleting the
    commits entry after a successful drain."""
    import os

    from scalecast_spark.datapipe.dedup import cross_dedup
    from scalecast_spark.streaming import cross_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)
    new_dir = str(tmp_path / "new")
    res, ckpt = str(tmp_path / "survivors"), str(tmp_path / "ckpt")
    half1 = new.filter(F.col("doc_id") % 4 == 1)
    half2 = new.filter(F.col("doc_id") % 4 == 3)

    def drain():
        return cross_dedup_stream(
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1).parquet(new_dir),
            ex_path, results_path=res, checkpoint_dir=ckpt,
        )

    half1.coalesce(1).write.mode("append").parquet(new_dir)
    first = sorted(r["doc_id"] for r in drain().select("doc_id").collect())
    # simulate the crash window: batch 0's output landed but its
    # commit never did -> on resume Spark MUST re-run batch 0
    commits = os.path.join(ckpt, "commits")
    removed = [f for f in os.listdir(commits) if not f.startswith(".")]
    assert removed, "drain committed nothing?"
    for f in removed:
        os.remove(os.path.join(commits, f))
        crc = os.path.join(commits, f".{f}.crc")  # ChecksumFs shadow
        if os.path.exists(crc):
            os.remove(crc)
    half2.coalesce(1).write.mode("append").parquet(new_dir)
    got = sorted(r["doc_id"] for r in drain().select("doc_id").collect())
    want = sorted(
        r["doc_id"]
        for r in cross_dedup(new, existing).select("doc_id").collect()
    )
    assert got == want  # replayed batch 0 overwrote itself: no dups
    assert len(got) == len(set(got))
    assert set(first) < set(got)


def test_resume_accepts_equivalent_path_spellings(spark, sf_dir, tmp_path):
    """ADVICE r10: the marker compare must not refuse a resume that
    spells the same results directory differently (trailing slash,
    file:// scheme). Both respellings must resume cleanly; a genuinely
    different directory must still be refused."""
    from scalecast_spark.streaming import cross_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
    ex_path = str(tmp_path / "existing")
    existing.write.parquet(ex_path)
    new_dir = str(tmp_path / "new")
    new.coalesce(1).write.parquet(new_dir)
    res, ckpt = str(tmp_path / "res"), str(tmp_path / "ckpt")

    def drain(res_spelling):
        return cross_dedup_stream(
            spark.readStream.schema(new.schema).parquet(new_dir),
            ex_path, results_path=res_spelling, checkpoint_dir=ckpt,
        )

    base = drain(res).count()
    assert base > 0
    assert drain(res + "/").count() == base  # trailing slash
    assert drain("file://" + res).count() == base  # scheme-qualified
    with pytest.raises(FileExistsError, match="was created\\s+for"):
        other = str(tmp_path / "other")
        spark.read.parquet(res).limit(1).write.parquet(
            other + "/batch_id=0"
        )
        drain(other)


def test_ivfpq_delete_ids_rename_fast_path(index_art, tmp_path):
    """move_untouched=True on a same-FS pair: untouched cells are
    RENAMED (metadata-only) into the new version — they vanish from
    in_path (documented destructive retire-in-place semantics) and the
    output is identical to what the copy path would produce."""
    import os

    from scalecast_spark.datapipe.similarity import ivfpq_delete_ids

    cp, bp, _, emb = index_art
    spark = emb.sparkSession
    cents, books = load_centroids(cp), load_pq_codebooks(bp)
    codes = ivfpq_encode(emb, cents, books).withColumnRenamed(
        "doc_id", "vec_id"
    )
    src = str(tmp_path / "mv_codes_v1")
    codes.repartition(F.col("cell")).write.partitionBy("cell").parquet(src)
    n_total = spark.read.parquet(src).count()
    by_cell = codes.groupBy("cell").count().orderBy("count").collect()
    victim_cell = int(by_cell[-1]["cell"])
    victims = [
        int(r["vec_id"])
        for r in codes.filter(F.col("cell") == victim_cell)
        .select("vec_id").orderBy("vec_id").limit(2).collect()
    ]
    dst = str(tmp_path / "mv_codes_v2")
    stats = ivfpq_delete_ids(
        spark, src, dst, victims, move_untouched=True
    )
    assert stats["untouched_transfer"] == "rename"
    assert stats["rows_deleted"] == 2
    out = spark.read.parquet(dst)
    assert out.count() == n_total - 2
    assert out.filter(F.col("vec_id").isin(victims)).count() == 0
    # in_path retains ONLY the touched cell (retire-in-place contract)
    left = [d for d in os.listdir(src) if d.startswith("cell=")]
    assert left == [f"cell={victim_cell}"]


def test_compact_results_merges_batch_dirs(spark, tmp_path):
    """compact_results: a fragmented foreachBatch results directory
    (one batch_id=<n> dir per micro-batch) rewrites to target_files
    parquet files with identical rows, batch_id dropped (sink
    plumbing), file count verified down, and the accounting dict
    matches the filesystem."""
    import pytest

    from scalecast_spark.streaming.ops import compact_results

    res = str(tmp_path / "results")
    rows_per = 40
    for b in range(5):
        spark.range(rows_per).selectExpr(
            f"id + {b * rows_per} AS qid", "id * 2.0 AS score"
        ).repartition(4).write.parquet(f"{res}/batch_id={b}")
    out = str(tmp_path / "compacted_v1")
    stats = compact_results(spark, res, out, target_files=1)
    got = spark.read.parquet(out)
    assert stats["rows"] == 5 * rows_per == got.count()
    assert "batch_id" not in got.columns
    assert stats["files_after"] < stats["files_before"]
    # all qids survive exactly once
    assert got.select("qid").distinct().count() == 5 * rows_per
    # the original stays intact (the resumable object)
    assert spark.read.parquet(res).count() == 5 * rows_per

    # refusals: in-place, existing out, non-foreachBatch layout
    with pytest.raises(ValueError, match="differ"):
        compact_results(spark, res, res)
    with pytest.raises(FileExistsError):
        compact_results(spark, res, out)
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    with pytest.raises(ValueError, match="batch_id"):
        compact_results(spark, plain, str(tmp_path / "x"))


def test_compact_results_keep_batch_id(spark, tmp_path):
    from scalecast_spark.streaming.ops import compact_results

    res = str(tmp_path / "results")
    for b in range(2):
        spark.range(3).selectExpr("id AS qid").write.parquet(
            f"{res}/batch_id={b}"
        )
    out = str(tmp_path / "v1")
    compact_results(spark, res, out, keep_batch_id=True)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"qid", "batch_id"}
    assert got.filter("batch_id = 1").count() == 3
