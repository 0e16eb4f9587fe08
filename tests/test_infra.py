"""Checkpointed catalog, streaming ingest, multimodal plumbing,
determinism + reconstruction invariants (SURVEY §5, FIXTURES §6)."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_catalog_checkpoint_resume(spark, tmp_path):
    from oscar_spatial_index_compare_spark.engine import Engine

    root = str(tmp_path / "cat")
    eng1 = Engine(spark, SF_DIR, catalog_root=root)
    eng1.context("s2", 10)
    snaps1 = eng1.catalog.snapshots()
    assert {s["table"] for s in snaps1} == {
        "index_base_s2_10", "mention_cells_s2_10", "cell_totals_s2_10",
        "token_postings_s2_10",
    }
    for s in snaps1:
        assert s["n_rows"] > 0 and s["bytes"] > 0 and s["n_files"] > 0
        assert s["inputs"], "lineage missing"
    # resume: a second Engine on the same root writes NO new snapshot
    # (every stage is checkpoint-gated)
    eng2 = Engine(spark, SF_DIR, catalog_root=root)
    ct = eng2.context("s2", 10).ctotals
    assert len(eng2.catalog.snapshots()) == len(snaps1)
    # data round-trips
    assert ct.where(F.col("n_docs") <= 0).count() == 0


def test_streaming_incremental_matches_batch(spark, engine, tmp_path):
    from oscar_spatial_index_compare_spark.streaming.ingest import (
        compact_postings, run_incremental_index,
    )

    # stage the corpus as an arrival directory (file source needs a dir);
    # split into several files so multiple micro-batches fire
    src = str(tmp_path / "arrivals")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = run_incremental_index(spark, src, schema, out, ckpt, "s2", 8)
    q.awaitTermination(300)
    streamed = compact_postings(spark, out)
    batch = engine.context("s2", 8).ctotals
    a = {(r.cell_id, r.n_docs, tuple(r.doc_ids)) for r in streamed.collect()}
    b = {(r.cell_id, r.n_docs, tuple(r.doc_ids)) for r in batch.collect()}
    assert a == b


def test_multimodal_plumbing(spark):
    from oscar_spatial_index_compare_spark.operators.multimodal import (
        extract_features, extract_metadata, media_from_documents,
    )
    from oscar_spatial_index_compare_spark.sources.tables import documents_cc

    media = media_from_documents(documents_cc(spark, SF_DIR))
    meta = extract_metadata(media)
    rows = meta.collect()
    assert len(rows) == media.count()
    assert all(r.n_bytes > 0 and len(r.sha256) == 64 for r in rows)
    feats = extract_features(media.limit(20), frames_per_doc=3)
    frows = feats.collect()
    assert len(frows) == 60  # fan-out: 3 frames per doc
    assert all(len(r.features) == 16 for r in frows)
    # determinism of the fake decode (stands in for codec determinism)
    again = {(r.doc_id, r.frame_idx): tuple(r.features)
             for r in extract_features(media.limit(20), 3).collect()}
    assert all(again[(r.doc_id, r.frame_idx)] == tuple(r.features) for r in frows)


def test_extraction_determinism_across_parallelism(spark):
    """north_rule per-row invariant: byte-identical text + identical mention
    set across partitionings (the sandbox proxy for cluster sizes)."""
    from oscar_spatial_index_compare_spark.operators.mentions import extract_mentions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m1 = extract_mentions(spark, docs.repartition(1))
    m8 = extract_mentions(spark, docs.repartition(8))
    h1 = m1.agg(F.expr("bit_xor(xxhash64(doc_id, name, lat, lon))")).collect()[0][0]
    h8 = m8.agg(F.expr("bit_xor(xxhash64(doc_id, name, lat, lon))")).collect()[0][0]
    assert h1 == h8
    t1 = docs.repartition(3).agg(F.expr("bit_xor(xxhash64(sha2(text, 256)))")).collect()[0][0]
    t2 = docs.repartition(7).agg(F.expr("bit_xor(xxhash64(sha2(text, 256)))")).collect()[0][0]
    assert t1 == t2


def test_reconstruction_invariant(engine):
    """Union of cell_totals doc_ids == distinct mention docs (reference
    assertion src/OscarSgIndex.cpp:193-206)."""
    ctx = engine.context("s2", 10)
    from_cells = (
        ctx.ctotals.select(F.explode("doc_ids").alias("doc_id")).dropDuplicates()
    )
    from_mentions = engine.mentions.select("doc_id").dropDuplicates()
    assert from_cells.exceptAll(from_mentions).count() == 0
    assert from_mentions.exceptAll(from_cells).count() == 0


def test_fm_classification_invariant(engine):
    """is_fm ⇔ n_matched == cell total (reference
    src/OscarSearchSgIndex.cpp:178-197)."""
    ctx = engine.context("s2", 10)
    tp = ctx.tpostings.where(F.col("token") == "dup")
    j = tp.join(
        ctx.ctotals.select("cell_id", F.col("n_docs").alias("n_total")), "cell_id"
    )
    bad = j.where(
        (F.col("is_fm") != (F.col("n_docs") == F.col("n_total")))
        | (F.col("is_fm") & F.col("doc_ids").isNotNull())
        | (~F.col("is_fm") & F.col("doc_ids").isNull())
    )
    assert bad.count() == 0
