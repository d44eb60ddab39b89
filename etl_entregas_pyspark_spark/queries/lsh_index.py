"""q210/q211 — the PERSISTED standing LSH band index and the ingest fold.

Round-9 left one structural gap in the incremental-dedup story (r9 VERDICT
"what's wrong" #1): q203's probe plan has the right SHAPE (batch bands
broadcast against the standing band table, zero shuffle of corpus
signatures) but the standing table itself was recomputed from
``documents.text`` on every run — at 100 TB the whole point of incremental
ingest is that per-batch cost is O(batch), which requires the band index
to be a TABLE written once at ingest, not a subplan.

This module closes the loop:

- ``ensure_band_index`` lays the standing corpus's band signatures down as
  a parquet table once per (session, sf_dir) — the q150 write-once layout
  pattern (``queries/bucketed.py``) applied to the LSH index. In
  production this write happens at ingest (and is maintained
  incrementally by the streaming upsert sink — see
  ``streaming/upsert_sink.py:band_index_batch``); re-running the probe
  NEVER rebuilds it (pinned by ``tests/test_round10_ops.py``).
- ``q210_incremental_lsh_probe_persisted`` is q203 with the corpus side
  READ from the saved index: the only work proportional to the corpus is
  one columnar scan of (doc_id, band_id, band_hash); shingling/minhashing
  runs over the BATCH alone, and ``documents.text`` is touched for corpus
  rows only inside the verify step, restricted by a broadcast semi-join
  to the matched candidates (O(matches), not O(corpus)).
- ``q211_ingest_apply`` executes the routing q203's docstring only
  described: one decision row per batch doc — drop-vs-corpus beats
  drop-in-batch beats keep, deterministic min-partner tie-breaks — the
  LLM-pipeline counterpart of q104's CDC fold.
- ``q221_ingest_commit`` (round 11) closes the loop: it applies the
  routing — bulk-seeds the epoch-fenced store from the batch-built
  table, appends the keepers' signatures through the live sink's own
  ``band_index_batch``, and emits the post-ingest summary read back from
  the committed store. Probe → route → apply → post-state: q104's full
  CDC analogy, driver-gated end to end.
- ``q222_live_index_probe`` (round 11) promotes the batch-vs-live index
  equivalence to the driver gate: the corpus replayed in epoch slices
  through the streaming maintenance path (re-delivered epoch, mid-stream
  compaction), then the probe run against THAT store under q203's
  oracle.

The reference has no incremental path at all (one batch CSV in, one CSV
out, ``/root/reference/src/etl_entregas.py:537-553``); this is north-star
surface for a standing 100-TB corpus with daily arrivals.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.registry import register
from etl_entregas_pyspark_spark.queries.relational import (
    T,
    _rnd_sql,
    rnd,
    spread_if_narrow,
    store_path,
)
from etl_entregas_pyspark_spark.queries.similarity import (
    _A,
    _B,
    _P,
    _band_hashes,
    _q203_oracle,
    _BATCH_MOD,
    JACCARD_THRESHOLD,
    N_BANDS,
    N_HASHES,
    SHINGLE_W,
    jaccard_verify,
    md5_int,
    word_shingles,
)

# test hook: how many times each index path was (re)built this session —
# the probe must hit this exactly once per (session, sf_dir)
INDEX_BUILDS: dict[str, int] = {}

_INDEX_FILES = 8  # band-table files per index (test-scale; a config at prod)


def _minhash_aggs() -> list:
    return [
        F.min((F.col("h") * _A[j] + _B[j]) % _P).alias(f"mh{j}")
        for j in range(N_HASHES)
    ]


def _band_long(per_doc: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) long form from a minhash-signature frame."""
    return (
        per_doc.select("doc_id", *_band_hashes())
        .select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band_{b}").alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ])
            ).alias("band"),
        )
        .select("doc_id", "band.band_id", "band.band_hash")
    )


def band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) band signatures for a (doc_id, text)
    frame — the unit of work both the batch index build and the streaming
    index maintenance (``streaming/upsert_sink.py:band_index_batch``)
    run, so the live-maintained and batch-built indexes are
    equivalence-testable against ONE implementation."""
    ex = (
        # spread the CPU-heavy shingle+md5 stage: both the batch index
        # build (single-split corpus parquet) and the replayed ingest
        # slices arrive as 1-2 partitions at bench scale (guide §2.5);
        # split-aware — an already-wide production scan skips the
        # exchange (r15 VERDICT #1).
        # Keyed on (doc_id, text) — NOT doc_id alone — so the emitted
        # partitioning can never satisfy a caller's doc_id-keyed join
        # distribution: this frame is returned un-checkpointed, and a
        # doc_id hash at defaultParallelism leaking into the sink's
        # anti-join made Spark 4.1 zip mismatched partition counts
        # (route_dups batch: "Can't zip RDDs ... List(4, 8)").
        spread_if_narrow(docs, "doc_id", "text")
        .select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("item")
        )
        .withColumn("h", md5_int(F.col("item")) % _P)
    )
    return _band_long(ex.groupBy("doc_id").agg(*_minhash_aggs()))


def ensure_band_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write the standing corpus's band index once; return its path.

    Standing corpus = ``doc_id % _BATCH_MOD != 0`` (the complement of
    q203's incoming batch). The table holds ONLY (doc_id, band_id,
    band_hash) — signatures reduce to their band hashes at ingest, so the
    index is a skinny integer/string table a 100-TB corpus can afford to
    keep hot. Idempotent per (session, sf_dir): the parquet _SUCCESS
    marker gates the rebuild, so every probe after the first is O(batch).
    """
    path = store_path(spark, sf_dir, "lsh_band_index")
    if not force and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    corpus = T(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _BATCH_MOD != 0
    )
    (
        band_signatures(corpus)
        .repartition(_INDEX_FILES, "band_hash")
        .write.mode("overwrite")
        .parquet(path)
    )
    INDEX_BUILDS[path] = INDEX_BUILDS.get(path, 0) + 1
    return path


def _batch_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash signatures + shingle payload for the incoming batch ONLY.

    The ``doc_id % _BATCH_MOD == 0`` filter sits UNDER the shingle
    explode, so the expensive text stage runs over the batch alone — the
    O(batch) ingest contract. localCheckpoint'ed: both the band probe and
    the verify payload consume it."""
    batch = spread_if_narrow(
        # single-split source: spread the batch's shingle+md5 stage
        # (split-aware — skipped on an already-wide scan)
        T(spark, sf_dir, "documents").filter(F.col("doc_id") % _BATCH_MOD == 0),
        "doc_id",
    )
    ex = (
        batch.select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("item")
        )
        .withColumn("h", md5_int(F.col("item")) % _P)
    )
    return (
        ex.groupBy("doc_id")
        .agg(*_minhash_aggs(), F.collect_list("item").alias("items"))
        .localCheckpoint()
    )


def _probe_pairs(
    spark: SparkSession, sf_dir: str, corpus_bands: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The probe stage, pre-checkpoint (plan-testable): candidate pairs
    whose corpus side is ONLY the saved band table — the batch-built one
    by default, or any injected (doc_id, band_id, band_hash) frame (q222
    passes the LIVE-maintained store). Returns ``(cand, per_batch)``."""
    if corpus_bands is None:
        idx_path = ensure_band_index(spark, sf_dir)
        corpus_bands = spark.read.parquet(idx_path)
    per_batch = _batch_signatures(spark, sf_dir)
    batch_bands = _band_long(per_batch)

    probe = batch_bands.select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_hash"
    )
    # corpus side: stream the saved index past the broadcast batch bands —
    # map-side hash join, zero corpus shuffle, zero corpus re-hash
    corpus_hits = (
        corpus_bands.join(F.broadcast(probe), ["band_id", "band_hash"])
        .select(
            F.least("doc_id", "new_doc").alias("doc_a"),
            F.greatest("doc_id", "new_doc").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("match_side", F.lit("corpus"))
    )
    # in-batch pairs: the batch self-probe (both sides tiny)
    batch_pairs = (
        batch_bands.join(F.broadcast(probe), ["band_id", "band_hash"])
        .filter(F.col("doc_id") < F.col("new_doc"))
        .select(
            F.col("doc_id").alias("doc_a"), F.col("new_doc").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("match_side", F.lit("batch"))
    )
    # the two sides are disjoint by construction (corpus ids never carry
    # the batch residue), so a plain union needs no re-dedup
    return corpus_hits.unionByName(batch_pairs), per_batch


def _verify_and_emit(
    spark: SparkSession, sf_dir: str, cand: DataFrame, per_batch: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification over the probe's candidate pairs,
    shared by q210 (batch-built index) and q222 (live-maintained index):
    batch shingles ride along in ``per_batch``; corpus shingles are
    recomputed for MATCHED docs only through a broadcast semi-join, so
    ``documents.text`` is touched for O(matches) corpus rows."""
    cand = cand.localCheckpoint()
    corpus_ids = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .filter(F.col("doc_id") % _BATCH_MOD != 0)
        .distinct()
    )
    corpus_payload = (
        T(spark, sf_dir, "documents")
        .join(F.broadcast(corpus_ids), "doc_id")
        .select("doc_id", word_shingles(F.col("text")).alias("items"))
        .localCheckpoint()
    )
    payload = per_batch.select("doc_id", "items").unionByName(corpus_payload)

    pairs = jaccard_verify(cand, payload)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    union = (
        F.size("sh_a")
        + F.size("sh_b")
        - F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    )
    jac = inter / union
    return pairs.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", jac.alias("jaccard"), "match_side"
    )


@register(
    "q210_incremental_lsh_probe_persisted",
    _q203_oracle(),
    doc="q203's incremental near-dup probe with the standing corpus read "
    "from the PERSISTED band index (ensure_band_index — written once "
    "per session/scale, maintained incrementally in production by the "
    "streaming upsert sink): per-run cost is O(batch) + one columnar "
    "scan of the skinny (doc_id, band_id, band_hash) table. The batch "
    "is shingled/minhashed fresh (it is new data), its bands broadcast "
    "into (a) the index probe — corpus signatures never shuffle, never "
    "recompute — and (b) a tiny in-batch self-probe; exact-Jaccard "
    "verification touches documents.text for corpus rows only through "
    "a broadcast semi-join on the matched ids (O(matches)). Output and "
    "oracle are identical to q203 (same pair set, same jaccard, same "
    "batch/corpus routing tags), so the two driver rows prove "
    "recompute-vs-persisted equivalence; tests/test_round10_ops.py "
    "additionally pins result equality, index reuse across runs (no "
    "rebuild), and the index scan in the executed plan.",
)
def q210_incremental_lsh_probe_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cand, per_batch = _probe_pairs(spark, sf_dir)
    return _verify_and_emit(spark, sf_dir, cand, per_batch)


def _q211_oracle() -> str:
    rsn = "COALESCE(r.corpus_rsn, r.batch_rsn)"
    return f"""
    WITH pairs AS ( {_q203_oracle()} ),
    batch AS (
        SELECT doc_id FROM documents WHERE doc_id % {_BATCH_MOD} = 0
    ), part AS (
        SELECT doc_a AS doc, doc_b AS partner, match_side
        FROM pairs WHERE doc_a % {_BATCH_MOD} = 0
        UNION ALL
        SELECT doc_b AS doc, doc_a AS partner, match_side
        FROM pairs WHERE doc_b % {_BATCH_MOD} = 0
    ), reason AS (
        SELECT doc,
               MIN(CASE WHEN match_side = 'corpus' THEN partner END)
                   AS corpus_rsn,
               MIN(CASE WHEN match_side = 'batch' AND partner < doc
                        THEN partner END) AS batch_rsn
        FROM part GROUP BY doc
    )
    SELECT b.doc_id,
           CASE WHEN r.corpus_rsn IS NOT NULL THEN 'drop_vs_corpus'
                WHEN r.batch_rsn IS NOT NULL THEN 'drop_in_batch'
                ELSE 'keep' END AS action,
           CAST({rsn} AS BIGINT) AS reason_doc,
           {_rnd_sql("p.jaccard", 6)} AS reason_jaccard
    FROM batch b
    LEFT JOIN reason r ON b.doc_id = r.doc
    LEFT JOIN pairs p
           ON p.doc_a = LEAST(b.doc_id, {rsn})
          AND p.doc_b = GREATEST(b.doc_id, {rsn})
    ORDER BY b.doc_id
    """


@register(
    "q211_ingest_apply",
    _q211_oracle(),
    doc="the ingest FOLD over q210's probe output — the routing q203 only "
    "described, now executed: one decision row per incoming-batch doc. "
    "Rules (deterministic, pairwise): any corpus hit drops the new doc "
    "(the standing copy wins — reason = smallest corpus partner); else "
    "any in-batch hit against a smaller doc_id drops it (min-id "
    "survivor per pair, q62's greedy); else keep. Emits (doc_id, "
    "action, reason_doc, reason_jaccard) — anti-join the batch against "
    "the drop rows and append the keepers: the LLM-pipeline counterpart "
    "of q104's CDC apply, composed ON TOP of the persisted-index probe "
    "so the whole ingest path (index scan → probe → route) runs at "
    "O(batch). Scale: the fold itself is one groupBy over the pair "
    "list (|matches| rows) plus a broadcast-size left join back onto "
    "the batch — nothing corpus-sized moves.",
)
def q211_ingest_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q210_incremental_lsh_probe_persisted(spark, sf_dir).localCheckpoint()
    batch = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BATCH_MOD == 0)
        .select("doc_id")
    )
    part = (
        pairs.filter(F.col("doc_a") % _BATCH_MOD == 0)
        .select(
            F.col("doc_a").alias("doc"),
            F.col("doc_b").alias("partner"),
            "match_side",
        )
        .unionByName(
            pairs.filter(F.col("doc_b") % _BATCH_MOD == 0).select(
                F.col("doc_b").alias("doc"),
                F.col("doc_a").alias("partner"),
                "match_side",
            )
        )
    )
    reason = part.groupBy("doc").agg(
        F.min(
            F.when(F.col("match_side") == "corpus", F.col("partner"))
        ).alias("corpus_rsn"),
        F.min(
            F.when(
                (F.col("match_side") == "batch")
                & (F.col("partner") < F.col("doc")),
                F.col("partner"),
            )
        ).alias("batch_rsn"),
    )
    rsn = F.coalesce("corpus_rsn", "batch_rsn")
    routed = batch.join(
        F.broadcast(reason), batch.doc_id == reason.doc, "left"
    ).select(
        "doc_id",
        F.when(F.col("corpus_rsn").isNotNull(), "drop_vs_corpus")
        .when(F.col("batch_rsn").isNotNull(), "drop_in_batch")
        .otherwise("keep")
        .alias("action"),
        rsn.cast("bigint").alias("reason_doc"),
    )
    jx = pairs.select(
        F.col("doc_a").alias("ja"),
        F.col("doc_b").alias("jb"),
        "jaccard",
    )
    return (
        routed.join(
            F.broadcast(jx),
            (jx.ja == F.least("doc_id", "reason_doc"))
            & (jx.jb == F.greatest("doc_id", "reason_doc")),
            "left",
        )
        .select(
            "doc_id",
            "action",
            "reason_doc",
            rnd(F.col("jaccard"), 6).alias("reason_jaccard"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q217 — standing-index reconciliation audit: corpus vs band index
# ---------------------------------------------------------------------------


@register(
    "q217_band_index_reconcile",
    f"""
    SELECT 'ok' AS status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    WHERE doc_id % {_BATCH_MOD} <> 0
      AND len(string_split(text, ' ')) >= {SHINGLE_W}
    """,
    doc="integrity audit for the persisted standing band index (q187's "
    "Merkle partition-diff discipline applied to derived index state): "
    "full-outer reconcile the index's per-doc band counts against the "
    "corpus contract — every shingle-able standing-corpus doc present "
    f"with exactly {N_BANDS} bands. Each doc lands in one of four "
    "statuses: ok, missing (corpus doc absent from the index — an "
    "ingest dropped a batch), orphan (index doc no longer in the "
    "corpus — a delete never propagated), band_count_bad (partial "
    "epoch write). The aggregate is the page-able health row; the "
    "oracle pins the healthy outcome (exactly one 'ok' row counting "
    "the shingle-able corpus), so ANY drift fails the driver's "
    "row-count/hash gate — the audit is itself audited. Plan: one "
    "doc_id-keyed count over the skinny index + one corpus scan that "
    "never touches band hashes; at 100 TB this is the cheap nightly "
    "check that the live sink (band_index_batch) and compaction "
    "(compact_band_index) preserved the corpus contract.",
)
def q217_band_index_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx_path = ensure_band_index(spark, sf_dir)
    per_doc = (
        spark.read.parquet(idx_path)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )
    expected = (
        T(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % _BATCH_MOD != 0)
            & (F.size(F.split("text", " ")) >= SHINGLE_W)
        )
        .select("doc_id", F.lit(True).alias("expected"))
    )
    status = (
        F.when(F.col("expected").isNull(), "orphan")
        .when(F.col("n_bands").isNull(), "missing")
        .when(F.col("n_bands") != N_BANDS, "band_count_bad")
        .otherwise("ok")
    )
    return (
        per_doc.join(expected, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q221 — ingest COMMIT: apply q211's routing to the standing index store
#         (the batch twin of the streaming sink's route_dups arm — closes
#          the q104-CDC analogy: probe → route → APPLY → post-state)
# ---------------------------------------------------------------------------


def seed_index_store(
    spark: SparkSession, standing_index_path: str, index_dir: str
) -> None:
    """Bulk-load the batch-built standing index as epoch 0 of an
    epoch-fenced store (the ``streaming/upsert_sink.py`` layout) WITHOUT
    re-hashing any text: one columnar scan of the skinny band table,
    then the same write-directory-first / swing-pointer-last commit
    ``band_index_batch`` uses (``EpochStore.seed`` — idempotent: a
    committed store is left untouched). This is the production bootstrap
    path — an index built once in batch, handed to the streaming
    maintainer."""
    from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        BAND_INDEX_COLS,
    )

    EpochStore(index_dir, BAND_INDEX_COLS).seed(
        spark.read.parquet(standing_index_path)
    )


def _q221_oracle() -> str:
    shingleable = f"len(string_split({{t}}.text, ' ')) >= {SHINGLE_W}"
    return f"""
    WITH route AS ( {_q211_oracle()} ),
    before_n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents d
        WHERE d.doc_id % {_BATCH_MOD} <> 0 AND {shingleable.format(t='d')}
    ), added_n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM route r JOIN documents d ON r.doc_id = d.doc_id
        WHERE r.action = 'keep' AND {shingleable.format(t='d')}
    )
    SELECT action AS metric, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM route GROUP BY action
    UNION ALL SELECT 'batch_total', CAST(COUNT(*) AS BIGINT) FROM route
    UNION ALL SELECT 'index_docs_before', n FROM before_n
    UNION ALL SELECT 'index_docs_added', n FROM added_n
    UNION ALL SELECT 'index_docs_after', b.n + a.n FROM before_n b, added_n a
    ORDER BY metric
    """


@register(
    "q221_ingest_commit",
    _q221_oracle(),
    doc="the ingest COMMIT — the step q211 stopped short of (r10 VERDICT "
    "'what's wrong' #3): consume the routing fold, PHYSICALLY append the "
    "keepers' band signatures to the standing index store as a new "
    "epoch, and emit the post-ingest summary. The store is the "
    "epoch-fenced layout of streaming/upsert_sink.py: epoch 0 is "
    "bulk-loaded from the batch-built table (seed_index_store — one "
    "columnar scan, zero re-hash), epoch 1 is the keepers routed "
    "through band_index_batch — the SAME foreachBatch body the live "
    "sink runs, so batch and streaming ingest are one code path and "
    "exactly-once fencing makes the whole query idempotent (a re-run "
    "re-reads the committed state; nothing appends twice). The emitted "
    "summary joins both worlds: routing counts per action straight "
    "from q211's fold, and index_docs_before/added/after counted from "
    "the COMMITTED store itself (read_band_index) — so if the physical "
    "commit ever dropped or duplicated a keeper, the after-count would "
    "diverge from the oracle's before+added arithmetic and fail the "
    "driver hash gate. Completes q104's CDC analogy for the LLM "
    "pipeline: change capture (q210 probe) → routing decision (q211 "
    "fold) → apply (this commit) → queryable post-state. Scale: "
    "O(batch) hash work + two skinny index scans; nothing corpus-sized "
    "moves, and the epoch append is exactly the live sink's per-batch "
    "cost.",
)
def q221_ingest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        band_index_batch,
        read_band_index,
    )

    route = q211_ingest_apply(spark, sf_dir).localCheckpoint()
    store = store_path(spark, sf_dir, "lsh_commit_store")
    seed_index_store(spark, ensure_band_index(spark, sf_dir), store)
    keepers = route.filter(F.col("action") == "keep").select("doc_id")
    keeper_docs = (
        T(spark, sf_dir, "documents")
        .join(F.broadcast(keepers), "doc_id")
        .select("doc_id", "text")
    )
    band_index_batch(keeper_docs, 1, store)  # fenced: re-runs skip

    counts = route.groupBy(F.col("action").alias("metric")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    batch_total = route.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).select(F.lit("batch_total").alias("metric"), "n_docs")
    before = spark.read.parquet(ensure_band_index(spark, sf_dir)).agg(
        F.countDistinct("doc_id").cast("bigint").alias("nb")
    )
    after = read_band_index(spark, store).agg(
        F.countDistinct("doc_id").cast("bigint").alias("na")
    )
    stats = before.crossJoin(after).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("index_docs_before").alias("metric"),
                    F.col("nb").alias("n_docs"),
                ),
                F.struct(
                    F.lit("index_docs_added").alias("metric"),
                    (F.col("na") - F.col("nb")).alias("n_docs"),
                ),
                F.struct(
                    F.lit("index_docs_after").alias("metric"),
                    F.col("na").alias("n_docs"),
                ),
            )
        ).alias("kv")
    ).select("kv.metric", "kv.n_docs")
    return counts.unionByName(batch_total).unionByName(stats).orderBy("metric")


# ---------------------------------------------------------------------------
# q222 — probe against the LIVE-maintained index: the corpus replayed in
#         epoch slices through the STREAMING maintenance path (including a
#         re-delivered epoch and a mid-stream compaction), then q210's
#         probe run against THAT store — promoting the pytest-only
#         batch-vs-live index equivalence to the driver gate (r10 VERDICT
#         next-round #4, the q201→q212/q213/q216 promotion pattern).
# ---------------------------------------------------------------------------

_LIVE_EPOCHS = 3


def ensure_live_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the standing index the LIVE way, once per (session, sf_dir):
    the standing corpus arrives in three doc_id-keyed epoch slices
    through ``band_index_batch`` (the foreachBatch body of the streaming
    sink), with epoch 1 deliberately RE-DELIVERED (the at-least-once
    failure mode — must be fenced to a no-op) and a compaction after
    epoch 1 (so the final read unions a compacted base WITH a
    post-compaction epoch dir). The result must be row-identical to
    ``ensure_band_index``'s batch-built table — q222 proves it at the
    driver gate by running the probe against this store under q203's
    oracle."""
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        _read_pointer,
        band_index_batch,
        compact_band_index,
    )

    path = store_path(spark, sf_dir, "lsh_live_store")
    os.makedirs(path, exist_ok=True)
    if _read_pointer(path)["epoch"] >= _LIVE_EPOCHS - 1:
        return path
    corpus = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BATCH_MOD != 0)
        .select("doc_id", "text")
    )
    # corpus ids carry residue 1 or 2 mod 3, so pmod(id, 9) lands in
    # {1,2,4,5,7,8} and floor(/3) splits them into epochs {0,1,2}
    sl = F.floor(F.pmod(F.col("doc_id"), 9) / 3)
    band_index_batch(corpus.filter(sl == 0), 0, path)
    band_index_batch(corpus.filter(sl == 1), 1, path)
    band_index_batch(corpus.filter(sl == 1), 1, path)  # re-delivery: no-op
    compact_band_index(spark, path)  # absorbs epochs 0-1 into base=v*
    band_index_batch(corpus.filter(sl == 2), 2, path)
    return path


@register(
    "q222_live_index_probe",
    _q203_oracle(),
    doc="q210's incremental near-dup probe with the corpus side read from "
    "the LIVE-MAINTAINED band index: the standing corpus is replayed in "
    "three epoch slices through band_index_batch (the streaming sink's "
    "foreachBatch body), including a deliberately re-delivered epoch "
    "(at-least-once recovery — exactly-once fencing must skip it) and a "
    "mid-stream compact_band_index (the final read unions the compacted "
    "base with a post-compaction epoch). The oracle is q203's SQL — the "
    "same pair set the recompute twin and the batch-index twin (q210) "
    "prove — so one green driver row certifies the whole maintenance "
    "path end-to-end: re-delivery fencing, pointer crash-safety, "
    "compaction content-preservation, and base+epoch union reads. "
    "Promotes tests/test_band_index_sink.py's pytest-only equivalence "
    "to the driver gate, the same pattern that promoted disorder "
    "correctness (q201 -> q212/q213/q216). Scale: identical to q210 — "
    "O(batch) hash work against a skinny standing table; the live "
    "replay itself is the one-off session bootstrap, per-epoch cost "
    "O(slice).",
)
def q222_live_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        read_band_index,
    )

    store = ensure_live_band_index(spark, sf_dir)
    corpus_bands = read_band_index(spark, store).select(
        "doc_id", "band_id", "band_hash"
    )
    cand, per_batch = _probe_pairs(spark, sf_dir, corpus_bands=corpus_bands)
    return _verify_and_emit(spark, sf_dir, cand, per_batch)


# ---------------------------------------------------------------------------
# q226 — deletion propagation (right-to-be-forgotten): tombstone fan-out
#         across the persisted stores, executed as a filtered compaction
#         on an epoch-fenced copy and summarized from the POST state.
# ---------------------------------------------------------------------------

_DENY_MOD = 17  # doc_id % 17 == 1 plays the deletion request set


def scrub_band_index(
    spark: SparkSession, index_dir: str, deny: DataFrame
) -> None:
    """Remove every band row whose doc_id is in ``deny`` from an
    epoch-fenced band-index store — the GDPR-delete path for an
    append-only index: a filtered compaction (``EpochStore.scrub``). The
    committed state is read (base + live epochs), anti-joined against
    the broadcast denylist, written as a NEW base absorbing the epoch
    frontier, and only then does the pointer swing — UNDER the store's
    pointer lock, re-reading first, so a sink commit landing during the
    scrub keeps its fresher epoch instead of being rolled back (r11
    ADVICE #3; an interrupted scrub leaves the old state intact and
    fully re-runnable — rows never half-disappear).

    Scale: one columnar scan of the skinny index + a broadcast anti-join
    (the denylist is request-sized); corpus text is never touched. At
    100 TB this is the scheduled deletion compaction, and the q217
    reconcile (run with the post-deletion corpus contract) is its
    audit."""
    from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        BAND_INDEX_COLS,
    )

    EpochStore(index_dir, BAND_INDEX_COLS).scrub(
        spark, deny, "doc_id", n_files=_INDEX_FILES, shuffle_cols=("band_hash",)
    )


def ensure_scrubbed_store(spark: SparkSession, sf_dir: str) -> str:
    """Seed a dedicated store from the batch-built index and execute the
    deletion compaction on it, once per (session, sf_dir). The shared
    session index stays untouched (q210/q217 keep their contract); at
    production the scrub runs in place as scheduled maintenance."""
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        _read_pointer,
    )

    path = store_path(spark, sf_dir, "lsh_scrub_store")
    os.makedirs(path, exist_ok=True)
    if _read_pointer(path).get("base_version") is not None:
        return path
    seed_index_store(spark, ensure_band_index(spark, sf_dir), path)
    deny = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DENY_MOD == 1)
        .select("doc_id")
    )
    scrub_band_index(spark, path, deny)
    return path


@register(
    "q226_deletion_propagation",
    f"""
    WITH deny AS (
        SELECT doc_id FROM documents WHERE doc_id % {_DENY_MOD} = 1
    ), indexed_deny AS (
        SELECT d.doc_id FROM deny d
        JOIN documents x ON d.doc_id = x.doc_id
        WHERE x.doc_id % {_BATCH_MOD} <> 0
          AND len(string_split(x.text, ' ')) >= {SHINGLE_W}
    ), idx_before AS (
        SELECT CAST({N_BANDS} AS BIGINT) * COUNT(*) AS n FROM documents
        WHERE doc_id % {_BATCH_MOD} <> 0
          AND len(string_split(text, ' ')) >= {SHINGLE_W}
    )
    SELECT 'band_index_rows_after' AS metric,
           b.n - {N_BANDS} * (SELECT COUNT(*) FROM indexed_deny) AS n_rows
    FROM idx_before b
    UNION ALL
    SELECT 'band_index_rows_before', n FROM idx_before
    UNION ALL
    SELECT 'band_index_rows_deleted',
           CAST({N_BANDS} AS BIGINT) * COUNT(*) FROM indexed_deny
    UNION ALL
    SELECT 'deny_docs_indexed', CAST(COUNT(*) AS BIGINT) FROM indexed_deny
    UNION ALL
    SELECT 'deny_docs_total', CAST(COUNT(*) AS BIGINT) FROM deny
    ORDER BY metric
    """,
    doc="right-to-be-forgotten propagation across the persisted index "
    "(the governance leg ingest/audit don't cover): a deletion-request "
    "set fans out into the standing band index as a FILTERED COMPACTION "
    "— committed state anti-joined against the broadcast denylist, "
    "rewritten as a new base, pointer swung last (compact_band_index's "
    "crash recipe, so an interrupted scrub never half-deletes). The "
    "summary is read from the POST-SCRUB store: before/deleted/after "
    "row counts plus the request-set split (indexed vs total), so a "
    "row that survived deletion — or one deleted too many — breaks the "
    "oracle's exact arithmetic at the driver gate. Executed on a "
    "session-dedicated copy so q210/q217's shared index keeps its "
    "contract; in production the same function runs in place as "
    "scheduled maintenance, and q217's reconcile (with the shrunken "
    "corpus contract) audits it. Scale: one skinny-index scan + a "
    "request-sized broadcast anti-join; no text, no corpus shuffle.",
)
def q226_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.streaming.upsert_sink import (
        read_band_index,
    )

    store = ensure_scrubbed_store(spark, sf_dir)
    after_df = read_band_index(spark, store)
    after = (
        after_df.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        if after_df is not None
        else spark.range(1).select(F.lit(0).cast("bigint").alias("n"))
    )
    before = spark.read.parquet(ensure_band_index(spark, sf_dir)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    deny = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _DENY_MOD == 1)
        .select("doc_id")
    )
    deny_total = deny.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    indexed_deny = deny.join(
        spark.read.parquet(ensure_band_index(spark, sf_dir))
        .select("doc_id")
        .distinct(),
        "doc_id",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    row = (
        before.withColumnRenamed("n", "b")
        .crossJoin(after.withColumnRenamed("n", "a"))
        .crossJoin(deny_total.withColumnRenamed("n", "dt"))
        .crossJoin(indexed_deny.withColumnRenamed("n", "di"))
    )
    return (
        row.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("band_index_rows_after").alias("metric"),
                        F.col("a").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("band_index_rows_before").alias("metric"),
                        F.col("b").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("band_index_rows_deleted").alias("metric"),
                        (F.col("b") - F.col("a")).alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("deny_docs_indexed").alias("metric"),
                        F.col("di").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("deny_docs_total").alias("metric"),
                        F.col("dt").alias("n_rows"),
                    ),
                )
            ).alias("kv")
        )
        .select("kv.metric", "kv.n_rows")
        .orderBy("metric")
    )


# -- q235: band RE-PLAN from the persisted signature store --------------------

from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _md5_int_sql,
    _sh_sql,
    banded_pairs,
    sig_from_minhash,
)

_REPLAN_ROWS = 2  # the recall-heavy plan picked off q233's sweep
_REPLAN_BANDS = N_HASHES // _REPLAN_ROWS

# test hook: signature-store builds per path — re-plans must never re-shingle
SIG_STORE_BUILDS: dict[str, int] = {}


def ensure_signature_store(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Persist the corpus's raw 12-integer MinHash signatures once; return
    the path. The signature table (doc_id + 12 ints, ~100 bytes/doc) is
    the artifact that makes band RE-PLANNING cheap: any (bands x rows)
    factorization can be derived from it with integer concat+md5 — no
    re-shingle, no re-hash of the text. Docs with no shingles carry no
    signature (matching every banded oracle's len(sh) > 0 gate).
    Idempotent per (session, sf_dir) on the parquet _SUCCESS marker."""
    path = store_path(spark, sf_dir, "lsh_sig_store")
    if not force and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    # the corpus parquet is a single input split at bench scale (one row
    # group), so without the spread the whole shingle+md5 stage — the
    # store build's entire CPU cost — runs in ONE task (guide §2.5 input
    # skew; the q192/q203 idiom). Measured r15: build 8.5 s -> ~1.7 s.
    # Split-aware: an already-wide production scan skips the exchange.
    ex = (
        spread_if_narrow(T(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("item"))
        .withColumn("h", md5_int(F.col("item")) % _P)
    )
    (
        ex.groupBy("doc_id")
        .agg(*_minhash_aggs())
        .repartition(_INDEX_FILES, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    SIG_STORE_BUILDS[path] = SIG_STORE_BUILDS.get(path, 0) + 1
    return path


def _q235_oracle() -> str:
    mh = [
        f"list_min(list_transform(hs, h -> ({_A[j]} * h + {_B[j]}) % {_P})) AS mh{j}"
        for j in range(N_HASHES)
    ]
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM mh".format(
            b=b,
            expr=" || ',' || ".join(
                f"CAST(mh{b * _REPLAN_ROWS + k} AS VARCHAR)"
                for k in range(_REPLAN_ROWS)
            ),
        )
        for b in range(_REPLAN_BANDS)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, {_sh_sql(SHINGLE_W)} AS sh FROM documents
    ), hashed AS (
        SELECT doc_id, sh, list_transform(sh, s -> {_md5_int_sql('s')} % {_P}) AS hs
        FROM sh WHERE len(sh) > 0
    ), mh AS (
        SELECT doc_id, {', '.join(mh)} FROM hashed
    ), band_long AS (
        {band_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_long a JOIN band_long b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
           / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
    FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {JACCARD_THRESHOLD}
    """


@register(
    "q235_lsh_replan_from_signatures",
    _q235_oracle(),
    doc=f"the band re-plan APPLY that makes q233's sweep actionable: the "
    f"corpus's raw 12-int MinHash signatures are PERSISTED once "
    "(ensure_signature_store — the ~100-byte/doc artifact that turns a "
    "banding change from a corpus re-hash into an integer-concat pass), "
    f"then the index is re-banded under the recall-heavy "
    f"{_REPLAN_BANDS}x{_REPLAN_ROWS} plan straight from the STORED "
    "signatures — zero re-shingling, zero text reads for the banding "
    "stage — and near-dup pairs are emitted with exact Jaccard >= "
    f"{JACCARD_THRESHOLD} verification. The verify arm re-tokenizes "
    "ONLY the candidate docs (broadcast semi-join into the documents "
    "scan): candidates << corpus, so the text stage is "
    "candidate-sized, which is the honest 100-TB path — at scale you "
    "never ship shingle payloads through the index, you re-derive them "
    "for the handful of docs that collide. Width-2 bands nest inside "
    "q53's width-3 bands (aligned blocks), so this plan's verified "
    "pairs are a SUPERSET of q53's — pinned by test. Oracle recomputes "
    "signature -> re-band -> verify from the text, so a stale or "
    "corrupted signature store fails the hash gate.",
)
def q235_lsh_replan_from_signatures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sigs = spark.read.parquet(ensure_signature_store(spark, sf_dir))
    # re-band from stored ints: one narrow explode, no corpus re-hash
    structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * _REPLAN_ROWS + k}").cast("string")
                        for k in range(_REPLAN_ROWS)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(_REPLAN_BANDS)
    ]
    band_long = sigs.select(
        "doc_id", F.explode(F.array(*structs)).alias("e")
    ).select("doc_id", "e.band_id", "e.band_hash")
    # bucket pair stage through the shared derived-size valve (r13
    # VERDICT weak #2); the dup-class key comes from the SAME persisted
    # 12-int signatures the re-band reads — still zero re-shingling
    cand, _ = banded_pairs(
        band_long, ("band_id", "band_hash"), sig_from_minhash(sigs)
    )
    cand = cand.localCheckpoint()
    # verify arm: re-shingle ONLY the colliding docs (candidates << corpus)
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    payload = (
        T(spark, sf_dir, "documents")
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", word_shingles(F.col("text")).alias("sh"))
    )
    a = payload.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = payload.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (
        F.size("sh_a") + F.size("sh_b")
        - F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
