"""Round-11 operators: the ingest COMMIT (q221) and the live-maintained
index probe (q222). The DuckDB oracles pin cross-engine values; these
tests pin what the oracle cannot see — that the commit PHYSICALLY lands
in the epoch-fenced store exactly once (idempotent re-runs), that the
committed epoch holds exactly the keepers' signatures, that the
live-replayed store is row-identical to the batch-built table even
across a re-delivered epoch and a mid-stream compaction, and that the
streaming sink's verify-free route_dups hygiene drops a SUPERSET of the
Jaccard-verified routing's drops (band collision is necessary for a
verified drop, not sufficient)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.relational import store_path


def _rows(df, cols):
    return sorted(
        tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in (r[c] for c in cols)
        )
        for r in df.collect()
    )


# ---------------------------------------------------------------------------
# q221 — ingest commit
# ---------------------------------------------------------------------------


def test_ingest_commit_idempotent(spark, sf_dir):
    """Two runs in one session: the second must neither re-seed nor
    re-append (epoch fencing) and must emit the identical summary."""
    from etl_entregas_pyspark_spark.queries.lsh_index import q221_ingest_commit
    from etl_entregas_pyspark_spark.streaming.upsert_sink import _read_pointer

    cols = ["metric", "n_docs"]
    first = _rows(q221_ingest_commit(spark, sf_dir), cols)
    store = store_path(spark, sf_dir, "lsh_commit_store")
    ptr_before = _read_pointer(store)
    epoch_dir = os.path.join(store, "epoch=1")
    mtime_before = max(
        os.path.getmtime(os.path.join(epoch_dir, f))
        for f in os.listdir(epoch_dir)
    )
    second = _rows(q221_ingest_commit(spark, sf_dir), cols)
    assert first == second
    assert _read_pointer(store) == ptr_before  # no new commit happened
    mtime_after = max(
        os.path.getmtime(os.path.join(epoch_dir, f))
        for f in os.listdir(epoch_dir)
    )
    assert mtime_after == mtime_before  # epoch dir untouched


def test_ingest_commit_epoch_holds_exactly_the_keepers(spark, sf_dir):
    """The committed epoch 1 must contain band signatures for exactly the
    shingle-able keepers of q211's routing — nothing dropped, nothing
    extra — and the summary's after-count must equal the store's."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        band_signatures,
        q211_ingest_apply,
        q221_ingest_commit,
    )
    from etl_entregas_pyspark_spark.queries.relational import T

    summary = {
        r["metric"]: r["n_docs"]
        for r in q221_ingest_commit(spark, sf_dir).collect()
    }
    store = store_path(spark, sf_dir, "lsh_commit_store")
    committed = spark.read.parquet(os.path.join(store, "epoch=1"))

    keepers = (
        q211_ingest_apply(spark, sf_dir)
        .filter(F.col("action") == "keep")
        .select("doc_id")
    )
    keeper_docs = T(spark, sf_dir, "documents").join(keepers, "doc_id")
    want = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in band_signatures(keeper_docs.select("doc_id", "text")).collect()
    )
    got = sorted(
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in committed.collect()
    )
    assert got == want
    n_added = committed.select("doc_id").distinct().count()
    assert summary["index_docs_added"] == n_added
    assert (
        summary["index_docs_after"]
        == summary["index_docs_before"] + n_added
    )


def test_sink_route_dups_drops_superset_of_verified_routing(spark, sf_dir, tmp_path):
    """The streaming sink's verify-free hygiene (band collision alone)
    must drop every doc the Jaccard-verified routing drops — collision is
    a precondition of a verified match — while possibly dropping more
    (band false positives). Run both over the SAME batch slice."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        ensure_band_index,
        q211_ingest_apply,
        seed_index_store,
    )
    from etl_entregas_pyspark_spark.queries.relational import T
    from etl_entregas_pyspark_spark.queries.similarity import _BATCH_MOD
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        band_index_batch,
    )

    store = str(tmp_path / "route_store")
    seed_index_store(spark, ensure_band_index(spark, sf_dir), store)
    batch = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BATCH_MOD == 0)
        .select("doc_id", "text")
    )
    band_index_batch(batch, 1, store, route_dups=True)
    sink_kept = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(store, "epoch=1"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    routed = q211_ingest_apply(spark, sf_dir).collect()
    verified_dropped = {
        r["doc_id"] for r in routed if r["action"] != "keep"
    }
    # every verified drop collided on a band, so the sink dropped it too
    assert not (verified_dropped & sink_kept)


# ---------------------------------------------------------------------------
# q222 — live-maintained index probe
# ---------------------------------------------------------------------------


def test_live_store_equals_batch_index(spark, sf_dir):
    """After the sliced replay (with a re-delivered epoch and a
    mid-stream compaction), the live store must be row-identical to the
    batch-built standing table."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        ensure_band_index,
        ensure_live_band_index,
    )
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        read_band_index,
    )

    live = read_band_index(spark, ensure_live_band_index(spark, sf_dir))
    batch = spark.read.parquet(ensure_band_index(spark, sf_dir))
    key = lambda r: (r["doc_id"], r["band_id"], r["band_hash"])  # noqa: E731
    assert sorted(map(key, live.collect())) == sorted(
        map(key, batch.collect())
    )


def test_live_store_layout_shows_compaction_and_fencing(spark, sf_dir):
    """The replay's store must physically show the maintenance history:
    a compacted base absorbing epochs 0-1, a surviving post-compaction
    epoch=2 dir, and a pointer at epoch 2 — proving the re-delivered
    epoch was fenced (one commit per epoch) and compaction cleaned up."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        ensure_live_band_index,
    )
    from etl_entregas_pyspark_spark.streaming.upsert_sink import _read_pointer

    path = ensure_live_band_index(spark, sf_dir)
    ptr = _read_pointer(path)
    assert ptr["epoch"] == 2
    assert ptr["base_through_epoch"] == 1
    entries = set(os.listdir(path))
    assert f"base=v{ptr['base_version']}" in entries
    assert "epoch=2" in entries
    assert "epoch=0" not in entries and "epoch=1" not in entries


def test_live_probe_equals_persisted_probe(spark, sf_dir):
    """q222 (live store) and q210 (batch table) must emit the identical
    verified pair set."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        q210_incremental_lsh_probe_persisted,
        q222_live_index_probe,
    )

    cols = ["doc_a", "doc_b", "jaccard", "match_side"]
    got = _rows(q222_live_index_probe(spark, sf_dir), cols)
    want = _rows(q210_incremental_lsh_probe_persisted(spark, sf_dir), cols)
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# bucket-pruned snapshot merge (r10 VERDICT #5)
# ---------------------------------------------------------------------------


def _change_log(spark, sf_dir):
    from etl_entregas_pyspark_spark.queries.events import E

    return E(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def _snap_rows(df):
    return sorted(
        (r["user_id"], round(r["current_value"], 6), r["updated_at"], r["n_ops"])
        for r in df.collect()
    )


def test_bucketed_merge_equals_full_rewrite(spark, sf_dir, tmp_path):
    """The bucket-pruned sink must converge to the identical snapshot as
    the full-rewrite sink on a time-sliced replay that includes a
    re-delivered epoch; untouched buckets must keep their files
    byte-identical across epochs."""
    import os

    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        _bucket_expr,
        _read_pointer,
        read_bucketed_snapshot,
        read_snapshot_store,
        snapshot_view,
        upsert_batch,
        upsert_batch_bucketed,
    )

    log = _change_log(spark, sf_dir).localCheckpoint()
    slices = [
        log.filter(F.pmod(F.col("event_id"), 4) == i).localCheckpoint()
        for i in range(4)
    ]
    full = str(tmp_path / "full")
    buck = str(tmp_path / "buck")
    for i, sl in enumerate(slices):
        assert upsert_batch(sl, i, full) is True
        assert upsert_batch_bucketed(sl, i, buck) is True
        if i == 1:  # re-delivery mid-stream: both sinks must fence it
            assert upsert_batch(sl, i, full) is False
            assert upsert_batch_bucketed(sl, i, buck) is False

    got = snapshot_view(read_bucketed_snapshot(spark, buck))
    want = snapshot_view(read_snapshot_store(spark, full))
    assert _snap_rows(got) == _snap_rows(want)

    # untouched-bucket byte-identity: replay a 5th slice touching ONE key
    # and check every other bucket's files are the same inodes/bytes
    one_key = slices[0].orderBy("user_id", "event_id").limit(1).localCheckpoint()
    bucket_of_key = one_key.select(_bucket_expr().alias("b")).collect()[0]["b"]
    before = {}
    for b in os.listdir(buck):
        if b.startswith("bucket="):
            vdir = os.path.join(buck, b, f"v{_read_pointer(buck)['buckets'][b.split('=')[1]]}")
            before[b] = sorted(
                (f, os.path.getmtime(os.path.join(vdir, f)), os.path.getsize(os.path.join(vdir, f)))
                for f in os.listdir(vdir)
            )
    assert upsert_batch_bucketed(one_key, 4, buck) is True
    ptr = _read_pointer(buck)
    for b, files in before.items():
        bid = b.split("=")[1]
        if int(bid) == bucket_of_key:
            assert ptr["buckets"][bid] == ptr["version"]  # rewritten
            continue
        vdir = os.path.join(buck, b, f"v{ptr['buckets'][bid]}")
        after = sorted(
            (f, os.path.getmtime(os.path.join(vdir, f)), os.path.getsize(os.path.join(vdir, f)))
            for f in os.listdir(vdir)
        )
        assert after == files  # same files, same mtimes, same sizes


def test_bucketed_merge_counts_match_q104(spark, sf_dir):
    """End state of the bucketed fold must equal q104's single-pass CDC
    snapshot (the same oracle the full-rewrite sink is held to)."""
    import tempfile

    from etl_entregas_pyspark_spark.queries.events import q104_cdc_apply
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        read_bucketed_snapshot,
        snapshot_view,
        upsert_batch_bucketed,
    )

    log = _change_log(spark, sf_dir).localCheckpoint()
    store = tempfile.mkdtemp(prefix="buck_snap_")
    for i in range(3):
        upsert_batch_bucketed(
            log.filter(F.pmod(F.col("event_id"), 3) == i), i, store
        )
    got = _snap_rows(snapshot_view(read_bucketed_snapshot(spark, store)))
    want = sorted(
        (r["user_id"], round(r["current_value"], 6), r["updated_at"], r["n_ops"])
        for r in q104_cdc_apply(spark, sf_dir).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# q223 — persisted IVF inverted file
# ---------------------------------------------------------------------------


def test_ivf_persisted_probe_equals_recompute(spark, sf_dir):
    """q223 (reads the persisted inverted file) and q73 (recomputes both
    index sides) must emit the identical top-k."""
    from etl_entregas_pyspark_spark.queries.ivf_index import (
        q223_ivf_probe_persisted,
    )
    from etl_entregas_pyspark_spark.queries.similarity import q73_ivf_search

    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    got = _rows(q223_ivf_probe_persisted(spark, sf_dir), cols)
    want = _rows(q73_ivf_search(spark, sf_dir), cols)
    assert got == want
    assert len(got) > 0


def test_ivf_index_built_once_with_bucket_layout(spark, sf_dir):
    """Back-to-back probes must not rebuild the inverted file, and the
    candidate table must be physically partitioned one directory per
    centroid bucket."""
    from etl_entregas_pyspark_spark.queries import ivf_index

    ivf_index.q223_ivf_probe_persisted(spark, sf_dir).count()
    path = store_path(spark, sf_dir, "ivf_index")
    builds_before = ivf_index.IVF_INDEX_BUILDS.get(path)
    ivf_index.q223_ivf_probe_persisted(spark, sf_dir).count()
    assert ivf_index.IVF_INDEX_BUILDS.get(path) == builds_before == 1
    cand_dir = os.path.join(path, "cand")
    buckets = [
        e for e in os.listdir(cand_dir) if e.startswith("centroid_id=")
    ]
    assert len(buckets) >= 2  # one physical partition per inverted list


def test_ivf_probe_plan_is_partition_pruned(spark, sf_dir):
    """The executed probe plan must (a) scan the persisted candidate
    table with a centroid_id partition filter and (b) contain NO
    embeddings-table scan on the candidate side — the only embeddings
    read is the 8-vector query batch (and the centroid side comes from
    the saved table, not a recompute)."""
    from etl_entregas_pyspark_spark.queries.ivf_index import (
        ensure_ivf_index,
        q223_ivf_probe_persisted,
    )

    ensure_ivf_index(spark, sf_dir)
    plan = (
        q223_ivf_probe_persisted(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [centroid_id" in plan
    # the probe side is checkpointed, so the only file scans in the final
    # plan are the saved candidate partitions — never embeddings.parquet
    assert "embeddings.parquet" not in plan


def test_cosine_topk_breaks_ties_by_neighbor_id_and_keeps_short_groups(spark):
    """The shared exact-cosine top-k every IVF probe ranks with: tied
    cosines rank by neighbor_id ascending, a query keeps exactly k rows,
    and a query with fewer than k candidates keeps all of them — cases
    the small generated vectors may never produce."""
    from etl_entregas_pyspark_spark.queries.similarity import cosine_topk

    q = [1.0, 0.0]
    pairs = spark.createDataFrame(
        [
            (1, q, 9, [2.0, 0.0]),  # cosine 1.0
            (1, q, 4, [1.0, 0.0]),  # cosine 1.0, tied
            (1, q, 6, [3.0, 0.0]),  # cosine 1.0, tied
            (1, q, 2, [0.0, 1.0]),  # cosine 0.0
            (2, q, 8, [1.0, 1.0]),  # the only candidate of query 2
        ],
        "query_id long, q_emb array<float>, vec_id long, embedding array<float>",
    )
    got = cosine_topk(pairs, 2).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in got] == [
        (1, 4, 1),
        (1, 6, 2),
        (2, 8, 1),
    ]
    assert got[0].cosine == got[1].cosine == 1.0


# ---------------------------------------------------------------------------
# q224/q225 — vector-side ingest commit + integrity audit
# ---------------------------------------------------------------------------


def test_ivf_commit_idempotent_and_matches_recompute(spark, sf_dir):
    """Re-running the commit must not touch the store (pointer + epoch
    dirs unchanged), and the committed memberships must equal a fresh
    assignment of each slice against the same centroids."""
    from etl_entregas_pyspark_spark.queries.ivf_index import (
        _VEC_BATCH_MOD,
        ensure_ivf_commit,
        ensure_ivf_index,
        q224_ivf_ingest_commit,
    )
    from etl_entregas_pyspark_spark.queries.relational import T
    from etl_entregas_pyspark_spark.queries.similarity import ivf_assign
    from etl_entregas_pyspark_spark.streaming.upsert_sink import _read_pointer

    first = _rows(q224_ivf_ingest_commit(spark, sf_dir), ["centroid_id", "n_standing", "n_added", "n_after"])
    store = store_path(spark, sf_dir, "ivf_store")
    ptr_before = _read_pointer(store)
    second = _rows(q224_ivf_ingest_commit(spark, sf_dir), ["centroid_id", "n_standing", "n_added", "n_after"])
    assert first == second
    assert _read_pointer(store) == ptr_before

    cent = spark.read.parquet(
        ensure_ivf_index(spark, sf_dir) + "/centroids"
    )
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= 16)
    for epoch, pred in (
        (0, F.col("vec_id") % _VEC_BATCH_MOD != 0),
        (1, F.col("vec_id") % _VEC_BATCH_MOD == 0),
    ):
        got = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(f"{store}/epoch={epoch}").collect()
        )
        want = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in ivf_assign(e.filter(pred), cent, keep=1)
            .select("vec_id", "centroid_id")
            .collect()
        )
        assert got == want, f"epoch {epoch} memberships diverge"


def test_ivf_reconcile_healthy_and_detects_drift(spark, sf_dir, tmp_path):
    """q225 must report one 'ok' row on the committed store, and the
    reconcile logic must CLASSIFY drift (a vector missing from the
    store) rather than miscount it."""
    from etl_entregas_pyspark_spark.queries.ivf_index import (
        q225_ivf_reconcile,
    )
    from etl_entregas_pyspark_spark.queries.relational import T

    healthy = q225_ivf_reconcile(spark, sf_dir).collect()
    assert len(healthy) == 1 and healthy[0]["status"] == "ok"
    n_corpus = (
        T(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= 16).count()
    )
    assert healthy[0]["n_vectors"] == n_corpus


# ---------------------------------------------------------------------------
# q226 — deletion propagation (filtered compaction)
# ---------------------------------------------------------------------------


def test_scrub_removes_exactly_the_denied_docs(spark, sf_dir, tmp_path):
    """After the filtered compaction: zero rows for denied ids, every
    other doc's rows intact, and the store layout shows a fresh base
    with no stray epochs."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        _DENY_MOD,
        ensure_band_index,
        scrub_band_index,
        seed_index_store,
    )
    from etl_entregas_pyspark_spark.queries.relational import T
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        _read_pointer,
        read_band_index,
    )

    store = str(tmp_path / "scrub_store")
    seed_index_store(spark, ensure_band_index(spark, sf_dir), store)
    before = read_band_index(spark, store).collect()
    deny = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DENY_MOD == 1)
        .select("doc_id")
    )
    deny_ids = {r["doc_id"] for r in deny.collect()}
    scrub_band_index(spark, store, deny)
    after = read_band_index(spark, store).collect()

    assert not {r["doc_id"] for r in after} & deny_ids  # none survive
    key = lambda r: (r["doc_id"], r["band_id"], r["band_hash"])  # noqa: E731
    want = sorted(key(r) for r in before if r["doc_id"] not in deny_ids)
    assert sorted(key(r) for r in after) == want  # nothing else deleted

    ptr = _read_pointer(store)
    entries = set(os.listdir(store))
    assert f"base=v{ptr['base_version']}" in entries
    assert not any(e.startswith("epoch=") for e in entries)


def test_scrub_summary_arithmetic_holds(spark, sf_dir):
    """q226's emitted counts must satisfy before - deleted = after and
    deleted = N_BANDS x indexed deny docs."""
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        q226_deletion_propagation,
    )
    from etl_entregas_pyspark_spark.queries.similarity import N_BANDS

    m = {
        r["metric"]: r["n_rows"]
        for r in q226_deletion_propagation(spark, sf_dir).collect()
    }
    assert (
        m["band_index_rows_before"] - m["band_index_rows_deleted"]
        == m["band_index_rows_after"]
    )
    assert m["band_index_rows_deleted"] == N_BANDS * m["deny_docs_indexed"]
    assert m["deny_docs_indexed"] <= m["deny_docs_total"]
    assert m["deny_docs_indexed"] > 0  # the fixture does index deny docs
