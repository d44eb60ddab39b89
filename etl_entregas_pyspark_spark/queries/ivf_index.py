"""q223 — the PERSISTED IVF inverted file: the vector-side twin of q210.

q73's ANN search has the right probe SHAPE (queries broadcast into a
centroid_id equi-join) but both its index sides — the centroids and the
candidate assignments — are recomputed from ``embeddings`` on every run.
At 100 TB the inverted file is a TABLE written once at ingest (FAISS's
IVF layout expressed as a parquet partition grid), and a probe touches
ONLY the partitions its nprobe buckets name: nothing corpus-sized is
re-assigned, and partition pruning keeps the scan at ~nprobe/C of the
corpus.

- ``ensure_ivf_index`` lays the layout down once per (session, sf_dir):
  the 8 centroids as a broadcastable side table and the candidate
  corpus's nearest-centroid assignment written ``partitionBy(
  centroid_id)`` — bucket = physical partition, the claim q73's
  docstring makes ("bucket = partition key at write time") now actually
  materialized and probed.
- ``q223_ivf_probe_persisted`` assigns the fresh query batch against the
  PERSISTED centroids, resolves the probed bucket ids (a ≤ C-row
  model-state pull, the q75/q207 centroid-frame discipline), reads only
  those ``centroid_id=`` partitions, and ranks — output and oracle are
  identical to q73, so the driver row proves persisted-vs-recompute
  equivalence exactly the way q210 proves it for the LSH band index.

The reference has no vector surface at all (SURVEY §2.11 north-star);
this closes the standing-index story for BOTH similarity families:
LSH/text (q210/q211/q221/q222) and IVF/embedding (q55/q73/q215/q223).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_entregas_pyspark_spark.queries.registry import REGISTRY, register
from etl_entregas_pyspark_spark.queries.relational import T, store_path
from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore
from etl_entregas_pyspark_spark.queries.similarity import (
    _IVF_TOPK,
    _NPROBE,
    batch_queries,
    brute_truth,
    corpus_slice,
    cosine,
    cosine_topk,
    dot,
    float_pull,
    ivf_assign,
    ivf_centroids,
    open_buckets,
    probe_batch,
    q8_codes,
    query_slice,
    query_vectors,
    recall_hits,
    rescore_topk,
    shortlist_rescore,
    shortlist_sweep,
    topk,
)

# test hook: (re)build count per index path — probes must never rebuild
IVF_INDEX_BUILDS: dict[str, int] = {}


def ensure_ivf_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write the IVF inverted file once; return its root.

    Layout: ``centroids/`` (centroid_id, c_emb — the broadcastable side)
    and ``cand/centroid_id=<b>/`` (vec_id, embedding, codes per bucket —
    one physical partition per inverted list). ``codes`` is the int8
    SQ8 quantization of the vector (``q8_codes``, array<tinyint>),
    MATERIALIZED at build time so the quantized admission scan
    (q232/q236) reads 1-byte codes instead of 4-byte floats — the FAISS
    IVF-SQ8 layout: parquet column pruning turns the cheap pass into a
    codes-only scan (r13 VERDICT weak #1; pinned by a ReadSchema test).
    Idempotent per (session, sf_dir): gated on the candidate table's
    _SUCCESS marker, written LAST so a half-built index is rebuilt,
    never probed."""
    path = store_path(spark, sf_dir, "ivf_index")
    if not force and os.path.exists(
        os.path.join(path, "cand", "_SUCCESS")
    ):
        return path
    e = T(spark, sf_dir, "embeddings")
    cent = ivf_centroids(e)
    cent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    (
        ivf_assign(corpus_slice(e), cent, keep=1)
        .drop("d2")
        .withColumn(
            "codes",
            q8_codes(F.col("embedding")).cast("array<tinyint>"),
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "cand"))
    )
    IVF_INDEX_BUILDS[path] = IVF_INDEX_BUILDS.get(path, 0) + 1
    return path


@register(
    "q223_ivf_probe_persisted",
    REGISTRY["q73_ivf_search"].oracle,
    doc="q73's IVF ANN search with BOTH index sides read from the "
    "PERSISTED inverted file (ensure_ivf_index — centroids + "
    "partitionBy(centroid_id) candidate lists, written once per "
    "session/scale): the query batch is assigned fresh against the "
    "saved centroids (it is new data), the probed bucket ids resolve "
    "via a <= C-row model-state pull, and the candidate scan reads "
    "ONLY those centroid_id= partitions — static partition pruning, "
    "so per-probe cost is ~nprobe/C of the corpus with zero "
    "re-assignment. Output and oracle are identical to q73 (same "
    "top-k, same tie-breaks), so the two driver rows prove "
    "persisted-vs-recompute equivalence for the vector index exactly "
    "as q210/q203 prove it for the LSH band index; "
    "tests/test_round11_ops.py additionally pins result equality, "
    "index reuse across runs, the physical bucket layout, and the "
    "partition-pruned scan in the executed plan. Scale: the inverted "
    "file is the FAISS-IVF layout as a parquet partition grid — at "
    "100 TB the probe reads a handful of bucket partitions, and index "
    "maintenance is an append to the arriving vectors' buckets (the "
    "band-index epoch discipline applies unchanged).",
)
def q223_ivf_probe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    e = T(spark, sf_dir, "embeddings")
    probes = probe_batch(e, cent, _NPROBE).localCheckpoint()
    cand = spark.read.parquet(os.path.join(idx, "cand")).filter(
        open_buckets(probes)
    )
    return cosine_topk(cand.join(F.broadcast(probes), "centroid_id"), _IVF_TOPK)


# ---------------------------------------------------------------------------
# q224/q225 — the vector-side ingest commit and integrity audit: the same
# epoch-fenced exactly-once discipline the LSH band index gets from
# q221/q217, applied to the IVF inverted-list membership table.
# ---------------------------------------------------------------------------

_VEC_BATCH_MOD = 5  # corpus vec_id % 5 == 0 plays the arriving batch

IVF_MEMBER_COLS = ["vec_id", "centroid_id"]  # the skinny membership schema


def ensure_ivf_commit(spark: SparkSession, sf_dir: str) -> str:
    """Build the epoch-fenced inverted-list MEMBERSHIP store and commit
    one arriving batch into it, exactly once per (session, sf_dir).

    Epoch 0 bulk-loads the STANDING corpus's (vec_id, centroid_id)
    assignment; epoch 1 assigns the arriving batch against the SAVED
    centroids (never re-assigning the standing rows — the O(batch)
    ingest contract) and lands it with ``EpochStore``'s write-first /
    swing-last commit — the SAME transaction-log recipe the band-index
    store runs (r11 VERDICT #5: one helper, three surfaces). The
    membership table is deliberately skinny — vectors live once in the
    base table; the index is WHICH list each one belongs to, which is
    what arrives, merges, and audits at 100 TB."""
    path = store_path(spark, sf_dir, "ivf_store")
    store = EpochStore(path, IVF_MEMBER_COLS)
    if store.pointer()["epoch"] >= 1:
        return path
    cent = spark.read.parquet(
        os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    )
    e = T(spark, sf_dir, "embeddings")
    corpus = corpus_slice(e)
    standing = corpus.filter(F.col("vec_id") % _VEC_BATCH_MOD != 0)
    store.seed(ivf_assign(standing, cent, keep=1))  # no-op if epoch 0 exists
    batch = corpus.filter(F.col("vec_id") % _VEC_BATCH_MOD == 0)
    store.append(ivf_assign(batch, cent, keep=1), 1)  # fenced: re-runs skip
    return path


# both slices reuse similarity._IVF_ASSIGN_SQL (the one assignment
# expression every IVF oracle shares) — only the {SRC} filter differs
from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _CAND_ASSIGN_SQL,
    _IVF_ASSIGN_SQL,
    _PROBE_ASSIGN_SQL,
)

_ASSIGN_STANDING_SQL = _IVF_ASSIGN_SQL.replace(
    "{SRC}",
    "(SELECT * FROM embeddings WHERE vec_id >= 16 AND vec_id % {mod} <> 0)",
)
_ASSIGN_BATCH_SQL = _ASSIGN_STANDING_SQL.replace("<> 0)", "= 0)")


@register(
    "q224_ivf_ingest_commit",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), s AS (
        SELECT centroid_id, COUNT(*) AS n FROM (
            {_ASSIGN_STANDING_SQL.format(mod=_VEC_BATCH_MOD)}
        ) WHERE rn = 1 GROUP BY centroid_id
    ), a AS (
        SELECT centroid_id, COUNT(*) AS n FROM (
            {_ASSIGN_BATCH_SQL.format(mod=_VEC_BATCH_MOD)}
        ) WHERE rn = 1 GROUP BY centroid_id
    )
    SELECT c.centroid_id,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_standing,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_added,
           CAST(COALESCE(s.n, 0) + COALESCE(a.n, 0) AS BIGINT) AS n_after
    FROM cent c
    LEFT JOIN s ON c.centroid_id = s.centroid_id
    LEFT JOIN a ON c.centroid_id = a.centroid_id
    ORDER BY c.centroid_id
    """,
    doc="the vector-side ingest COMMIT (q221's discipline on the IVF "
    "inverted file): an arriving vector batch is assigned against the "
    "PERSISTED centroids only — the standing corpus's memberships are "
    "never recomputed — and committed into the epoch-fenced membership "
    "store with the exactly-once pointer swing the band-index store "
    "uses (re-runs skip; a crash between write and swing leaves the "
    "epoch invisible). The emitted per-bucket summary "
    "(n_standing/n_added/n_after) is read BACK from the committed "
    "epochs, so a dropped or double-committed vector diverges from the "
    "oracle's recomputed arithmetic and fails the driver hash gate. "
    "Scale: O(batch × C) assignment work + two skinny membership "
    "scans; list growth lands in the arriving vectors' buckets only — "
    "the FAISS add() path as a table commit.",
)
def q224_ivf_ingest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = EpochStore(ensure_ivf_commit(spark, sf_dir), IVF_MEMBER_COLS)
    cent_ids = spark.read.parquet(
        os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    ).select("centroid_id")
    # per-epoch split via the store's fenced reader — never raw
    # epoch=N paths, which break silently under compaction (r12 ADVICE #2)
    standing = (
        store.read_epoch(spark, 0)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_n"))
    )
    added = (
        store.read_epoch(spark, 1)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a_n"))
    )
    return (
        cent_ids.join(standing, "centroid_id", "left")
        .join(added, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("s_n", F.lit(0)).cast("bigint").alias("n_standing"),
            F.coalesce("a_n", F.lit(0)).cast("bigint").alias("n_added"),
            (F.coalesce("s_n", F.lit(0)) + F.coalesce("a_n", F.lit(0)))
            .cast("bigint")
            .alias("n_after"),
        )
        .orderBy("centroid_id")
    )


@register(
    "q225_ivf_reconcile",
    """
    SELECT 'ok' AS status, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings WHERE vec_id >= 16
    """,
    doc="integrity audit for the committed IVF membership store (q217's "
    "Merkle-discipline twin for vectors): after q224's commit, every "
    "corpus vector must appear in EXACTLY ONE inverted list. Full-outer "
    "reconcile of per-vector membership counts against the corpus "
    "contract, each vector landing in ok / missing (ingest dropped a "
    "batch) / orphan (deleted vector still indexed) / multi_bucket "
    "(double-committed epoch or a keep>1 leak). The oracle pins the "
    "healthy outcome — exactly one 'ok' row counting the corpus — so "
    "ANY drift fails the driver's row-count/hash gate. Plan: one "
    "vec_id-keyed count over the skinny store + one corpus id scan; "
    "the cheap nightly check for a 100-TB vector index.",
)
def q225_ivf_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = EpochStore(
        ensure_ivf_commit(spark, sf_dir), IVF_MEMBER_COLS
    ).read(spark)
    per_vec = members.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    )
    expected = (
        corpus_slice(T(spark, sf_dir, "embeddings"))
        .select("vec_id", F.lit(True).alias("expected"))
    )
    status = (
        F.when(F.col("expected").isNull(), "orphan")
        .when(F.col("n_buckets").isNull(), "missing")
        .when(F.col("n_buckets") != 1, "multi_bucket")
        .otherwise("ok")
    )
    return (
        per_vec.join(expected, "vec_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Round 12 — IVF governance parity with the LSH band index (r11 VERDICT #2/#3):
# the membership store gets the full standing-index lifecycle the band index
# has — a streaming foreachBatch maintainer, epoch compaction, deletion
# propagation, and a live-vs-batch equivalence probe at the driver gate.
# All pointer plumbing is the shared EpochStore (streaming/epoch_store.py).
# ---------------------------------------------------------------------------

_MEMBER_FILES = 4  # membership-table files per base (test-scale config)


def ivf_membership_batch(
    batch_df: DataFrame, epoch_id: int, store_dir: str, centroids_path: str
) -> bool:
    """foreachBatch body for LIVE maintenance of the IVF membership table
    (the vector-side twin of ``band_index_batch``): the arriving vectors
    are assigned against the SAVED centroids only — O(batch × C), the
    standing memberships are never recomputed — and the skinny (vec_id,
    centroid_id) rows land as a fenced epoch append (``EpochStore``:
    re-delivered epochs are no-ops, write-first/swing-last under the
    pointer lock). This is FAISS's ``add()`` as an exactly-once table
    commit; per-epoch cost never touches the corpus."""
    store = EpochStore(store_dir, IVF_MEMBER_COLS)
    if epoch_id <= store.pointer()["epoch"]:
        return False  # fence EARLY: skip the assignment work entirely
    spark = batch_df.sparkSession
    cent = spark.read.parquet(centroids_path)
    assigned = ivf_assign(
        batch_df.select("vec_id", "embedding"), cent, keep=1
    ).localCheckpoint()  # decide BEFORE touching the store
    return store.append(assigned, int(epoch_id))


def start_ivf_membership_sink(
    vec_stream: DataFrame, store_dir: str, centroids_path: str,
    checkpoint_dir: str,
):
    """Run a streaming vector source (vec_id, embedding) into the live
    membership store — the production shape ``ensure_live_ivf_membership``
    replays deterministically for the driver gate."""
    return (
        vec_stream.writeStream.foreachBatch(
            lambda df, epoch: ivf_membership_batch(
                df, epoch, store_dir, centroids_path
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def compact_ivf_membership(spark: SparkSession, store_dir: str) -> int:
    """Fold the membership store's epoch directories into one
    centroid-clustered base (``EpochStore.compact``) — the maintenance
    pass that stops ``epoch=N`` dirs accumulating unboundedly across
    ingests (the r11 governance gap). Returns the new base's row count."""
    return EpochStore(store_dir, IVF_MEMBER_COLS).compact(
        spark, n_files=_MEMBER_FILES, shuffle_cols=("centroid_id",)
    )


def scrub_ivf_membership(
    spark: SparkSession, store_dir: str, deny: DataFrame
) -> int:
    """Deletion propagation for the vector index (q226's filtered
    compaction on the membership store): every membership row whose
    vec_id is in the request-sized broadcast denylist is removed in one
    crash-safe base rewrite — an interrupted scrub never half-deletes.
    Returns the surviving row count."""
    return EpochStore(store_dir, IVF_MEMBER_COLS).scrub(
        spark, deny, "vec_id", n_files=_MEMBER_FILES,
        shuffle_cols=("centroid_id",),
    )


# -- q227: deletion propagation --------------------------------------------

_VEC_DENY_MOD = 13  # vec_id % 13 == 2 plays the forget-request set


def ensure_scrubbed_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Seed a dedicated membership store from q224's COMMITTED state
    (one skinny pointer-resolved scan — no re-assignment) and execute
    the deletion compaction on it, once per (session, sf_dir). The
    shared commit store stays untouched (q224/q225 keep their
    contract); in production the scrub runs in place as scheduled
    maintenance."""
    path = store_path(spark, sf_dir, "ivf_scrub_store")
    store = EpochStore(path, IVF_MEMBER_COLS)
    if store.pointer().get("base_version") is not None:
        return path
    shared = EpochStore(ensure_ivf_commit(spark, sf_dir), IVF_MEMBER_COLS)
    # committed-state read through the shared store's pointer — layout-
    # agnostic, so a compaction of the q224 store cannot break the seed
    # (r12 ADVICE #2); the scrub compacts this copy into a base anyway,
    # so the copy's own epoch structure is irrelevant
    store.seed(shared.read(spark))
    deny = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_DENY_MOD == 2)
        .select("vec_id")
    )
    scrub_ivf_membership(spark, path, deny)
    return path


@register(
    "q227_ivf_deletion_propagation",
    f"""
    WITH deny AS (
        SELECT vec_id FROM embeddings WHERE vec_id % {_VEC_DENY_MOD} = 2
    ), corpus AS (
        SELECT vec_id FROM embeddings WHERE vec_id >= 16
    ), indexed_deny AS (
        SELECT d.vec_id FROM deny d JOIN corpus c ON d.vec_id = c.vec_id
    )
    SELECT 'deny_vecs_indexed' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_rows FROM indexed_deny
    UNION ALL SELECT 'deny_vecs_total', CAST(COUNT(*) AS BIGINT) FROM deny
    UNION ALL SELECT 'membership_rows_after',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM indexed_deny)
    UNION ALL SELECT 'membership_rows_before',
           CAST(COUNT(*) AS BIGINT) FROM corpus
    UNION ALL SELECT 'membership_rows_deleted',
           CAST(COUNT(*) AS BIGINT) FROM indexed_deny
    ORDER BY metric
    """,
    doc="right-to-be-forgotten propagation into the VECTOR index — the "
    "governance leg the r11 verdict called out as missing (a forget "
    "request could reach the LSH band index via q226 but not the IVF "
    "membership store): the request set fans out as q226's filtered "
    "compaction, executed by the SAME EpochStore.scrub recipe — "
    "committed state anti-joined against the broadcast denylist, "
    "rewritten as one centroid-clustered base, pointer swung last under "
    "the store lock, so an interrupted scrub never half-deletes and a "
    "sink commit landing mid-scrub keeps its epoch. The summary is read "
    "from the POST-SCRUB store: before/deleted/after row counts plus "
    "the request-set split (indexed vs total), so a membership row that "
    "survived deletion — or one deleted too many — breaks the oracle's "
    "exact arithmetic at the driver gate. Runs on a session-dedicated "
    "copy seeded from q224's committed state (one skinny pointer-"
    "resolved scan, zero re-assignment); q225's reconcile (with the "
    "shrunken corpus "
    "contract) is its audit. Scale: one scan of the skinny membership "
    "table + a request-sized broadcast anti-join; embeddings are never "
    "read, nothing corpus-sized shuffles.",
)
def q227_ivf_deletion_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = ensure_scrubbed_ivf_store(spark, sf_dir)
    after_df = EpochStore(path, IVF_MEMBER_COLS).read(spark)
    after = (
        after_df.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        if after_df is not None
        else spark.range(1).select(F.lit(0).cast("bigint").alias("n"))
    )
    members = EpochStore(
        ensure_ivf_commit(spark, sf_dir), IVF_MEMBER_COLS
    ).read(spark)
    before = members.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    deny = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_DENY_MOD == 2)
        .select("vec_id")
    )
    deny_total = deny.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    indexed_deny = deny.join(
        members.select("vec_id").distinct(), "vec_id"
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
                        F.lit("deny_vecs_indexed").alias("metric"),
                        F.col("di").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("deny_vecs_total").alias("metric"),
                        F.col("dt").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("membership_rows_after").alias("metric"),
                        F.col("a").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("membership_rows_before").alias("metric"),
                        F.col("b").alias("n_rows"),
                    ),
                    F.struct(
                        F.lit("membership_rows_deleted").alias("metric"),
                        (F.col("b") - F.col("a")).alias("n_rows"),
                    ),
                )
            ).alias("kv")
        )
        .select("kv.metric", "kv.n_rows")
        .orderBy("metric")
    )


# -- q228: live-vs-batch equivalence at the driver gate ---------------------

_LIVE_VEC_EPOCHS = 3


def ensure_live_ivf_membership(spark: SparkSession, sf_dir: str) -> str:
    """Build the corpus's IVF membership the LIVE way, once per
    (session, sf_dir): the corpus arrives in three vec_id-keyed epoch
    slices through ``ivf_membership_batch`` (the foreachBatch body of the
    streaming sink), with epoch 1 deliberately RE-DELIVERED (at-least-once
    recovery — must fence to a no-op) and a ``compact_ivf_membership``
    after epoch 1 (so the final read unions a compacted base WITH a
    post-compaction epoch dir — the q222 replay shape for vectors)."""
    path = store_path(spark, sf_dir, "ivf_live_store")
    store = EpochStore(path, IVF_MEMBER_COLS)
    if store.pointer()["epoch"] >= _LIVE_VEC_EPOCHS - 1:
        return path
    cent_path = os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    corpus = (
        corpus_slice(T(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
    )
    sl = F.pmod(F.col("vec_id"), 3)
    ivf_membership_batch(corpus.filter(sl == 0), 0, path, cent_path)
    ivf_membership_batch(corpus.filter(sl == 1), 1, path, cent_path)
    ivf_membership_batch(corpus.filter(sl == 1), 1, path, cent_path)  # no-op
    compact_ivf_membership(spark, path)  # absorbs epochs 0-1 into base=v*
    ivf_membership_batch(corpus.filter(sl == 2), 2, path, cent_path)
    return path


def _member_probe(spark: SparkSession, sf_dir: str, store_dir: str) -> DataFrame:
    """q73's probe with the inverted lists read from a membership store
    (q228 live, q229 scrubbed under ingest): the query batch assigned
    against the persisted centroids, the membership restricted to the
    probed lists, the member vectors joined back by id, cosine top-k."""
    cent = spark.read.parquet(
        os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    )
    e = T(spark, sf_dir, "embeddings")
    probes = probe_batch(e, cent, _NPROBE).localCheckpoint()
    opened = open_buckets(probes)
    members = EpochStore(store_dir, IVF_MEMBER_COLS).read(spark).filter(opened)
    cand = members.join(e.select("vec_id", "embedding"), "vec_id")
    return cosine_topk(cand.join(F.broadcast(probes), "centroid_id"), _IVF_TOPK)


@register(
    "q228_live_ivf_probe",
    REGISTRY["q73_ivf_search"].oracle,
    doc="q223's IVF ANN probe with the inverted lists resolved from the "
    "LIVE-MAINTAINED membership store: the corpus is replayed in three "
    "epoch slices through ivf_membership_batch (the streaming sink's "
    "foreachBatch body — each slice assigned against the SAVED "
    "centroids only), including a deliberately re-delivered epoch "
    "(exactly-once fencing must skip it) and a mid-stream "
    "compact_ivf_membership (the final read unions the compacted base "
    "with a post-compaction epoch — the governance pass q227/compact "
    "add this round, exercised under the probe). The probe assigns the "
    "query batch fresh, pulls the <= C probed bucket ids as model "
    "state, restricts the MEMBERSHIP table to those lists, and joins "
    "the member ids back to the embeddings table to rank — vectors "
    "live ONCE in the base table; the index moves only skinny (vec_id, "
    "centroid_id) rows, which is what a 100-TB deployment replicates "
    "hot. The oracle is q73's SQL — the same top-k the recompute twin "
    "(q73) and the persisted-file twin (q223) prove — so one green "
    "driver row certifies live-vs-batch IVF index equivalence "
    "end-to-end: fencing, pointer crash-safety, compaction "
    "content-preservation, and base+epoch union reads, completing the "
    "q222 pattern for the vector family. Scale: per-epoch maintenance "
    "is O(batch x C); the probe reads ~nprobe/C of the membership "
    "table plus an id-keyed pull of just those members' vectors.",
)
def q228_live_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _member_probe(spark, sf_dir, ensure_live_ivf_membership(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round 13 — governance UNDER live ingest (q229) and the recall/cost sweep
# (q230): the two instruments a production vector index still lacked after
# r12 closed batch deletion (q227) and live equivalence (q228). q229 pins
# the ordering contract the r12 scrub race fix documents (a scrub lands
# BETWEEN ingest epochs and later epochs keep flowing; upstream filters the
# denied keys from post-request ingest — the GDPR semantics); q230 turns
# the fixed-nprobe probe into the tuning curve you actually read before
# picking nprobe on a 100-TB corpus.
# ---------------------------------------------------------------------------


def ensure_govlive_ivf_membership(spark: SparkSession, sf_dir: str) -> str:
    """Build the membership store through the FULL lifecycle interleaving,
    once per (session, sf_dir): two ingest epochs land, a deletion request
    (vec_id % 13 == 2) is scrubbed as a filtered compaction, then ingest
    RESUMES with a third epoch whose denied keys were filtered upstream —
    the documented contract for requests racing ingest (a forget request
    covers data existing at request time; post-request ingest is the
    source filter's job, ``epoch_store.EpochStore.scrub``). The final
    committed read therefore unions a scrubbed base with a post-scrub
    epoch directory — the one layout shape q228's replay (compact between
    epochs) does not produce."""
    path = store_path(spark, sf_dir, "ivf_govlive_store")
    store = EpochStore(path, IVF_MEMBER_COLS)
    if store.pointer()["epoch"] >= 2:
        return path
    cent_path = os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    corpus = (
        corpus_slice(T(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
    )
    deny = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_DENY_MOD == 2)
        .select("vec_id")
    )
    sl = F.pmod(F.col("vec_id"), 3)
    ivf_membership_batch(corpus.filter(sl == 0), 0, path, cent_path)
    ivf_membership_batch(corpus.filter(sl == 1), 1, path, cent_path)
    # the forget request arrives mid-stream: filtered compaction NOW
    scrub_ivf_membership(spark, path, deny)
    # ingest resumes; the source filter drops post-request denied keys
    resumed = corpus.filter(sl == 2).join(
        F.broadcast(deny), "vec_id", "left_anti"
    )
    ivf_membership_batch(resumed, 2, path, cent_path)
    return path


_CAND_ASSIGN_GOV_SQL = _IVF_ASSIGN_SQL.replace(
    "{SRC}",
    "(SELECT * FROM embeddings WHERE vec_id >= 16"
    f" AND vec_id % {_VEC_DENY_MOD} <> 2)",
)


@register(
    "q229_ivf_scrub_under_ingest",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_GOV_SQL}
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
            {_PROBE_ASSIGN_SQL}
        ) WHERE rn <= {_NPROBE}
    ), scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(p.q_emb, c.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
        FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {_IVF_TOPK}
    """,
    doc="deletion propagation RACING live ingest — the lifecycle "
    "interleaving q227 (batch scrub) and q228 (live ingest) each prove "
    "alone: two membership epochs land through the foreachBatch body, "
    "the forget request (vec_id % 13 = 2) executes as the EpochStore "
    "filtered compaction MID-STREAM, then ingest resumes with an "
    "upstream-filtered third epoch — the documented contract for "
    "requests arriving under sustained ingest (scrub covers committed "
    "state; the source filter covers what arrives after, "
    "streaming/epoch_store.py invariant 5). The probe (q73's plan: "
    "fresh query assignment, <= C-row bucket pull, membership "
    "restricted to probed lists, vectors joined back by id) must "
    "hash-match q73's oracle over the corpus MINUS the denied set — "
    "one driver row certifying that no denied vector survives in any "
    "layout layer (scrubbed base OR post-scrub epoch) and no innocent "
    "neighbor went missing. Scale: the scrub is one skinny-table "
    "rewrite + request-sized broadcast anti-joins; embeddings are "
    "never read during maintenance.",
)
def q229_ivf_scrub_under_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _member_probe(spark, sf_dir, ensure_govlive_ivf_membership(spark, sf_dir))


# -- q230: the nprobe recall/cost sweep --------------------------------------

_SWEEP_NPROBES = [1, 2, 4, 8]  # C = 8 centroids: up to the exhaustive probe


@register(
    "q230_ivf_nprobe_sweep",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, centroid_id,
               rn AS pr FROM (
            {_PROBE_ASSIGN_SQL}
        ) WHERE rn <= 8
    ), levels AS (
        SELECT * FROM (VALUES (1), (2), (4), (8)) AS t(nprobe)
    ), scored AS (
        SELECT l.nprobe, p.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(p.q_emb, c.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
        FROM levels l
        JOIN probes p ON p.pr <= l.nprobe
        JOIN cand c ON p.centroid_id = c.centroid_id
    ), approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT nprobe, query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {_IVF_TOPK}
    ), bscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 8 AND vec_id < 16) q
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id >= 16) c
    ), brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
            FROM bscored
        ) WHERE rank <= {_IVF_TOPK}
    ), costs AS (
        SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
        FROM scored GROUP BY nprobe
    ), hitagg AS (
        SELECT a.nprobe, CAST(COUNT(b.neighbor_id) AS BIGINT) AS hits
        FROM approx a
        LEFT JOIN brute b ON a.query_id = b.query_id
                         AND a.neighbor_id = b.neighbor_id
        GROUP BY a.nprobe
    )
    SELECT c.nprobe, c.n_queries, c.n_candidates, h.hits,
           CAST(h.hits AS DOUBLE)
               / (CAST(c.n_queries AS DOUBLE) * {_IVF_TOPK}) AS recall_at_k
    FROM costs c JOIN hitagg h ON c.nprobe = h.nprobe
    ORDER BY c.nprobe
    """,
    doc="the IVF tuning instrument: recall@k AND scan cost per nprobe in "
    "one pass over the PERSISTED inverted file (1/2/4/8 of C=8 lists, "
    "up to exhaustive), each level's approximate top-k compared against "
    "the brute-force ground truth (q51's scan — on a real corpus you "
    "run it over a query SAMPLE; the curve is what picks nprobe before "
    "committing a 100-TB probe fleet to it, FAISS's nprobe sweep as a "
    "driver-gated table). Emits per level: queries, candidate pairs "
    "scanned (the cost axis), ground-truth hits, recall@k — monotone "
    "non-decreasing recall reaching 1.0 at the exhaustive level by "
    "construction, so an assignment or ranking bug surfaces as a "
    "non-monotone or sub-1.0 tail at the driver hash gate. Plan: "
    "probe ranks and query batch broadcast; ONE scan of the persisted "
    "candidate lists fans out to all four levels (the level join is a "
    "broadcast of 4 literals, not four scans); two skinny aggregates "
    "join at the end. The brute-force leg is the only corpus-sized "
    "term, exactly as in q215's recall audit.",
)
def q230_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    e = T(spark, sf_dir, "embeddings")
    # probe ranks 1..8 per query: one assignment serves every level
    probes = probe_batch(e, cent, 8, rank="pr").localCheckpoint()
    cand = spark.read.parquet(os.path.join(idx, "cand"))
    # ONE candidate scan fans out to every level: the level fan-out is an
    # explode of a 4-literal array (a narrow op — no join, no shuffle),
    # and the resulting |queries| × C × 4-row frame broadcasts
    fan = F.broadcast(
        probes.withColumn(
            "nprobe",
            F.explode(F.array(*[F.lit(n) for n in _SWEEP_NPROBES])),
        )
        .filter(F.col("pr") <= F.col("nprobe"))
        .drop("pr")
    )
    scored = cand.join(fan, "centroid_id").select(
        "nprobe",
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine().alias("cosine"),
    )
    approx = topk(scored, _IVF_TOPK, by=("nprobe", "query_id")).select(
        "nprobe", "query_id", "neighbor_id"
    )
    # ground truth: brute-force top-k (q51's scan), queries broadcast
    brute = brute_truth(corpus_slice(e), query_vectors(e), _IVF_TOPK)
    costs = scored.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
    )
    hits = recall_hits(approx, brute, "nprobe")
    return (
        costs.join(hits, "nprobe")
        .select(
            "nprobe",
            "n_queries",
            "n_candidates",
            "hits",
            (
                F.col("hits").cast("double")
                / (F.col("n_queries").cast("double") * F.lit(_IVF_TOPK))
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


def _committed_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed (vec_id, centroid_id, embedding): the shared q224 store's
    membership joined to the vectors by id — the standing assignment is
    never recomputed to build a refresh."""
    store = EpochStore(ensure_ivf_commit(spark, sf_dir), IVF_MEMBER_COLS)
    members = store.read(spark)  # committed (vec_id, centroid_id)
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return members.join(e, "vec_id")


def refreshed_centroids(assigned: DataFrame) -> DataFrame:
    """Element-wise means of the committed inverted lists as (new_cid,
    nc_emb) — C x D model state. Scaled-int accumulation over all
    _EMB_DIMS dimensions (order-independent, engine-portable; q75's
    discipline), so the refreshed coordinates are bit-identical to the
    DuckDB oracle's."""
    dims = assigned.select(
        "centroid_id",
        F.explode(F.sequence(F.lit(1), F.lit(_EMB_DIMS))).alias("i"),
        "embedding",
    ).select(
        "centroid_id",
        F.col("i").alias("pos"),
        F.floor(
            F.element_at("embedding", F.col("i")).cast("double")
            * _REFRESH_SCALE
        )
        .cast("long")
        .alias("v"),
    )
    newc = dims.groupBy("centroid_id", "pos").agg(
        (
            F.sum("v").cast("double") / _REFRESH_SCALE / F.count(F.lit(1))
        ).alias("coord")
    )
    return (
        newc.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "coord"))).alias("pc"))
        .select(
            F.col("centroid_id").alias("new_cid"),
            F.transform("pc", lambda s: s["coord"]).alias("nc_emb"),
        )
    )


# -- q231: centroid refresh + membership migration audit ---------------------

_EMB_DIMS = 64  # embeddings table dimension (TESTDATA.md)
_REFRESH_SCALE = 10_000_000  # float -> scaled-int for order-independent sums


@register(
    "q231_ivf_centroid_refresh",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), dims AS (
        SELECT a.centroid_id, g.i AS pos,
               CAST(FLOOR(CAST(a.embedding[g.i] AS DOUBLE) * {_REFRESH_SCALE}) AS BIGINT) AS v
        FROM assigned a CROSS JOIN generate_series(1, {_EMB_DIMS}) AS g(i)
    ), newc AS (
        SELECT centroid_id, pos,
               CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / {_REFRESH_SCALE} / COUNT(*) AS coord
        FROM dims GROUP BY centroid_id, pos
    ), newcent AS (
        SELECT centroid_id AS new_cid, list(coord ORDER BY pos) AS nc_emb
        FROM newc GROUP BY centroid_id
    ), redist AS (
        SELECT a.vec_id, a.centroid_id AS old_cid, n.new_cid,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(list_zip(a.embedding, n.nc_emb),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                   n.new_cid) AS rn
        FROM assigned a CROSS JOIN newcent n
    ), moved AS (
        SELECT vec_id, old_cid, new_cid FROM redist WHERE rn = 1
    ), stays AS (
        SELECT old_cid AS centroid_id, COUNT(*) AS n_members,
               SUM(CASE WHEN new_cid = old_cid THEN 1 ELSE 0 END) AS n_stay
        FROM moved GROUP BY old_cid
    ), inflow AS (
        SELECT new_cid AS centroid_id, COUNT(*) AS n_in
        FROM moved WHERE new_cid <> old_cid GROUP BY new_cid
    )
    SELECT c.centroid_id,
           CAST(COALESCE(s.n_members, 0) AS BIGINT) AS n_members,
           CAST(COALESCE(s.n_stay, 0) AS BIGINT) AS n_stay,
           CAST(COALESCE(s.n_members, 0) - COALESCE(s.n_stay, 0) AS BIGINT) AS n_out,
           CAST(COALESCE(i.n_in, 0) AS BIGINT) AS n_in,
           CASE WHEN COALESCE(s.n_members, 0) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COALESCE(s.n_members, 0) - COALESCE(s.n_stay, 0) AS DOUBLE)
                     / CAST(s.n_members AS DOUBLE)
           END AS churn
    FROM cent c
    LEFT JOIN stays s ON c.centroid_id = s.centroid_id
    LEFT JOIN inflow i ON c.centroid_id = i.centroid_id
    ORDER BY c.centroid_id
    """,
    doc="the index RE-TRAIN step that completes the IVF lifecycle (build "
    "q55/q223 -> ingest q224/q228 -> probe q73/q223 -> audit q215/q225 "
    "-> scrub q227/q229 -> tune q230 -> REFRESH): each centroid is "
    "recomputed as the element-wise mean of its COMMITTED inverted "
    "list (membership read from the epoch-fenced store + an id-keyed "
    "vector pull — the standing assignment is never recomputed to "
    "build the refresh), then the corpus is re-assigned against the "
    "refreshed centroids and the migration is audited per bucket: "
    "n_members/n_stay/n_out/n_in and the churn fraction — FAISS's "
    "retrain + add-back decision expressed as a driver-gated table "
    "(high churn = the ingest drift made the old partition stale; "
    "near-zero churn = re-clustering would shuffle bytes for "
    "nothing). Means use scaled-int accumulation (order-independent, "
    "engine-portable, q75's discipline over all 64 dims); the oracle "
    "recomputes the standing assignment from scratch, so a drifted or "
    "double-counted membership list breaks the refresh arithmetic at "
    "the hash gate. Scale: one skinny store scan + one O(n x C) "
    "distance pass (the inherent cost of any retrain decision); the "
    "refreshed centroids are C x D model state, broadcast both ways; "
    "nothing pairwise in the corpus.",
)
def q231_ivf_centroid_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _committed_assignment(spark, sf_dir)
    newcent = refreshed_centroids(assigned)
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("nc_emb"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # exact argmin via map-side-partial min(struct(d2, new_cid)) — the
    # window's (d2, new_cid) ordering without sorting/shuffling the
    # (corpus x C) grid; old_cid rides with first(), exact because
    # `assigned` is keep=1 assignment output (vec_id unique, so old_cid
    # is constant within each group — see ivf_assign's precondition)
    moved = (
        assigned.withColumnRenamed("centroid_id", "old_cid")
        .crossJoin(F.broadcast(newcent))
        .select("vec_id", "old_cid", "new_cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("d2"), F.col("new_cid"))).alias("s"),
            F.first("old_cid").alias("old_cid"),
        )
        .select(
            "vec_id",
            "old_cid",
            F.col("s.new_cid").alias("new_cid"),
            F.col("s.d2").alias("d2"),
        )
    )
    stays = moved.groupBy("old_cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("new_cid") == F.col("old_cid"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stay"),
    )
    inflow = (
        moved.filter(F.col("new_cid") != F.col("old_cid"))
        .groupBy("new_cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in"))
    )
    cent_ids = spark.read.parquet(
        os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    ).select("centroid_id")
    n_members = F.coalesce("n_members", F.lit(0))
    n_stay = F.coalesce("n_stay", F.lit(0))
    return (
        cent_ids.join(
            stays.withColumnRenamed("old_cid", "centroid_id"),
            "centroid_id",
            "left",
        )
        .join(
            inflow.withColumnRenamed("new_cid", "centroid_id"),
            "centroid_id",
            "left",
        )
        .select(
            "centroid_id",
            n_members.cast("bigint").alias("n_members"),
            n_stay.cast("bigint").alias("n_stay"),
            (n_members - n_stay).cast("bigint").alias("n_out"),
            F.coalesce("n_in", F.lit(0)).cast("bigint").alias("n_in"),
            # ANSI mode: guard the 0-member division (empty bucket)
            F.when(n_members == 0, F.lit(0.0))
            .otherwise(
                (n_members - n_stay).cast("double")
                / F.col("n_members").cast("double")
            )
            .alias("churn"),
        )
        .orderBy("centroid_id")
    )


# -- q232: SQ8 quantized candidate scan + exact rescore -----------------------

from etl_entregas_pyspark_spark.queries.similarity import _q8_sql  # noqa: E402

_SQ8_SHORTLIST = 8  # quantized-scan survivors per query (> _IVF_TOPK)


def _sq8_admission(
    spark: SparkSession, sf_dir: str, depth: int
) -> tuple[DataFrame, DataFrame]:
    """The shared SQ8 ADMISSION stage (q232/q236), pre-checkpoint so its
    plan is testable: returns ``(probes, shortpool)``.

    - ``probes``: the query batch assigned against the persisted
      centroids, carrying q_emb + inline query codes (checkpointed —
      admission and rescore both consume it).
    - ``shortpool``: per-query top-``depth`` candidates by exact integer
      dot over the PERSISTED int8 codes. The inverted-file scan reads
      (vec_id, centroid_id, codes) ONLY — parquet column pruning keeps
      the float column out of the cheap pass (r13 VERDICT weak #1;
      ReadSchema pinned by tests/test_round14_ops.py) — and the
      shortlist rows carry (query_id, neighbor_id, q8_dot, srn), never
      a vector."""
    idx = ensure_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    e = T(spark, sf_dir, "embeddings")
    probes = (
        probe_batch(e, cent, _NPROBE)
        .select(
            "query_id",
            "q_emb",
            q8_codes(F.col("q_emb")).alias("q8_q"),
            "centroid_id",
        )
        .localCheckpoint()
    )
    cand_codes = spark.read.parquet(os.path.join(idx, "cand")).select(
        "vec_id",
        "centroid_id",
        F.col("codes").cast("array<long>").alias("codes"),
    )
    q8_dot = F.aggregate(
        F.zip_with(F.col("q8_q"), F.col("codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    shortpool = topk(
        cand_codes.join(
            F.broadcast(probes.select("query_id", "q8_q", "centroid_id")),
            "centroid_id",
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            q8_dot.alias("q8_dot"),
        ),
        depth,
        score="q8_dot",
        rank="srn",
    )
    return probes, shortpool


def _sq8_pull(e: DataFrame, probes: DataFrame, short: DataFrame) -> DataFrame:
    """Floats page in ONLY for the <= shortlist x |queries| SQ8
    survivors: query vectors ride onto the skinny shortlist from the
    probe frame, and it BROADCASTS into the embeddings scan (the corpus
    side must stream, never shuffle)."""
    short_q = short.join(F.broadcast(batch_queries(probes)), "query_id")
    return e.select(F.col("vec_id").alias("neighbor_id"), "embedding").join(
        F.broadcast(short_q), "neighbor_id"
    )


@register(
    "q232_ivf_sq8_rescore",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
            {_PROBE_ASSIGN_SQL}
        ) WHERE rn <= {_NPROBE}
    ), scored AS (
        SELECT p.query_id, p.q_emb, c.vec_id AS neighbor_id, c.embedding,
               CAST(list_sum(list_transform(
                   list_zip({_q8_sql('p.q_emb')}, {_q8_sql('c.embedding')}),
                   x -> x[1] * x[2])) AS BIGINT) AS q8_dot
        FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id
    ), short AS (
        SELECT query_id, q_emb, neighbor_id, embedding, q8_dot FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY q8_dot DESC, neighbor_id) AS srn
            FROM scored
        ) WHERE srn <= {_SQ8_SHORTLIST}
    )
    SELECT query_id, neighbor_id, q8_dot, cosine, rank FROM (
        SELECT query_id, neighbor_id, q8_dot,
               list_sum(list_transform(list_zip(q_emb, embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY list_sum(list_transform(list_zip(q_emb, embedding),
                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                            / (sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                               * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC,
                            neighbor_id) AS rank
        FROM short
    ) WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
    doc="two-stage ANN over the persisted inverted file: a CHEAP pass "
    "ranks each probed bucket's vectors by the exact INTEGER dot product "
    "of their int8 codes — q68's symmetric ±4σ quantization MATERIALIZED "
    "as an array<tinyint> column in the inverted file at build time "
    "(ensure_ivf_index), so the admission scan reads (vec_id, "
    "centroid_id, codes) ONLY and parquet column pruning keeps the "
    "float column out of the hot path entirely (4x less scan bandwidth "
    "for real, not just in the doc — ReadSchema pinned by "
    "tests/test_round14_ops.py; r13 VERDICT weak #1). The pass keeps a "
    f"{_SQ8_SHORTLIST}-row shortlist per query carrying only (query_id, "
    "neighbor_id, q8_dot) — no vector rides the shortlist shuffle — and "
    "only the shortlist is RESCORED with full-precision cosine for the "
    f"final top-{_IVF_TOPK}: the skinny shortlist broadcasts into the "
    "embeddings scan and the floats page in for <= shortlist x "
    "|queries| rows — FAISS's IVF-SQ8 + refine pattern as a "
    "driver-gated table. The emitted rows carry both the quantized "
    "score that admitted the candidate and the exact cosine that "
    "ranked it, so a quantizer or shortlist bug shifts admissions and "
    "fails the hash gate (the persisted codes are pinned bit-identical "
    "to inline quantization by property test). Plan: probes broadcast "
    "into the partition-pruned codes-only bucket scan (q223's static "
    "pruning).",
)
def q232_ivf_sq8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    # ADMISSION: the shared codes-only stage (plan-testable helper)
    probes, short = _sq8_admission(spark, sf_dir, _SQ8_SHORTLIST)
    return rescore_topk(_sq8_pull(e, probes, short), "q8_dot", _IVF_TOPK)


# -- q234: centroid refresh APPLY — rebuild the inverted file and probe it ----

_REFRESH_ASSIGN_SQL = """
        SELECT e.vec_id, e.embedding, n.new_cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(list_zip(e.embedding, n.nc_emb),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                   n.new_cid) AS rn
        FROM {SRC} e CROSS JOIN newcent n
"""


def ensure_refreshed_ivf_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Apply q231's refresh: write a NEW inverted file under the refreshed
    centroids (same centroids/ + cand/centroid_id=<b>/ layout as
    ensure_ivf_index, same _SUCCESS-last fencing). The refreshed
    coordinates are persisted as exact doubles, and the re-assignment
    reads them BACK from the persisted model state — the probe and the
    build see the same bits."""
    path = store_path(spark, sf_dir, "ivf_refresh")
    if not force and os.path.exists(
        os.path.join(path, "cand", "_SUCCESS")
    ):
        return path
    newcent = refreshed_centroids(_committed_assignment(spark, sf_dir)).select(
        F.col("new_cid").alias("centroid_id"), F.col("nc_emb").alias("c_emb")
    )
    newcent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cent = spark.read.parquet(os.path.join(path, "centroids"))
    corpus = corpus_slice(T(spark, sf_dir, "embeddings"))
    (
        ivf_assign(corpus, cent, keep=1)
        .drop("d2")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "cand"))
    )
    IVF_INDEX_BUILDS[path] = IVF_INDEX_BUILDS.get(path, 0) + 1
    return path


@register(
    "q234_ivf_refresh_apply",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), dims AS (
        SELECT a.centroid_id, g.i AS pos,
               CAST(FLOOR(CAST(a.embedding[g.i] AS DOUBLE) * {_REFRESH_SCALE}) AS BIGINT) AS v
        FROM assigned a CROSS JOIN generate_series(1, {_EMB_DIMS}) AS g(i)
    ), newc AS (
        SELECT centroid_id, pos,
               CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / {_REFRESH_SCALE} / COUNT(*) AS coord
        FROM dims GROUP BY centroid_id, pos
    ), newcent AS (
        SELECT centroid_id AS new_cid, list(coord ORDER BY pos) AS nc_emb
        FROM newc GROUP BY centroid_id
    ), cand2 AS (
        SELECT vec_id, embedding, new_cid AS centroid_id FROM (
            {_REFRESH_ASSIGN_SQL.replace("{SRC}", "(SELECT * FROM embeddings WHERE vec_id >= 16)")}
        ) WHERE rn = 1
    ), probes2 AS (
        SELECT vec_id AS query_id, embedding AS q_emb, new_cid AS centroid_id FROM (
            {_REFRESH_ASSIGN_SQL.replace("{SRC}", "(SELECT * FROM embeddings WHERE vec_id >= 8 AND vec_id < 16)")}
        ) WHERE rn <= {_NPROBE}
    ), scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(p.q_emb, c.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
        FROM probes2 p JOIN cand2 c ON p.centroid_id = c.centroid_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
    doc="the retrain APPLY that completes q231's refresh decision: the "
    "refreshed centroids (element-wise means of the COMMITTED inverted "
    "lists, q231's scaled-int arithmetic) are persisted as the new "
    "model state, the corpus is re-bucketed against them into a NEW "
    "partitionBy(centroid_id) inverted file (FAISS retrain + add-back "
    "as a parquet rewrite), and the q73-style probe runs against the "
    "REBUILT index — queries assigned to the refreshed centroids, "
    "partition-pruned bucket scan, cosine top-k. The oracle recomputes "
    "the whole chain from scratch (standing assignment -> refreshed "
    "means -> re-assignment -> probe), so a drifted membership list, a "
    "lossy centroid round-trip, or a stale-bucket rewrite all break "
    "the hash gate. Scale: the rewrite is one O(n x C) assignment pass "
    "+ one clustered shuffle write — the inherent retrain cost, paid "
    "once per refresh decision and amortized over every subsequent "
    "partition-pruned probe; refreshed centroids are C x D model "
    "state, broadcast both ways; the old index stays probe-able until "
    "the new cand/_SUCCESS lands (same fencing as ensure_ivf_index).",
)
def q234_ivf_refresh_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_refreshed_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    e = T(spark, sf_dir, "embeddings")
    probes = probe_batch(e, cent, _NPROBE)
    cand = spark.read.parquet(os.path.join(idx, "cand"))
    return cosine_topk(
        cand.join(F.broadcast(probes), "centroid_id"), _IVF_TOPK
    ).orderBy("query_id", "rank")


# -- q236: SQ8 shortlist-depth sweep — recall/cost per rescore budget ---------

_SQ8_SWEEP_DEPTHS = (3, 4, 6, 8)


@register(
    "q236_sq8_shortlist_sweep",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
            {_PROBE_ASSIGN_SQL}
        ) WHERE rn <= {_NPROBE}
    ), scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(
                   list_zip({_q8_sql('p.q_emb')}, {_q8_sql('c.embedding')}),
                   x -> x[1] * x[2])) AS BIGINT) AS q8_dot,
               list_sum(list_transform(list_zip(p.q_emb, c.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine
        FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY q8_dot DESC, neighbor_id) AS srn,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS exact_rank
        FROM scored
    ), levels AS (
        SELECT * FROM (VALUES {', '.join(f'({d})' for d in _SQ8_SWEEP_DEPTHS)}) AS t(shortlist)
    ), fan AS (
        SELECT l.shortlist, r.query_id, r.neighbor_id, r.cosine, r.exact_rank
        FROM levels l JOIN ranked r ON r.srn <= l.shortlist
    ), cost AS (
        SELECT shortlist, CAST(COUNT(*) AS BIGINT) AS n_rescored,
               CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
        FROM fan GROUP BY shortlist
    ), approx AS (
        SELECT shortlist, query_id, neighbor_id, exact_rank FROM (
            SELECT shortlist, query_id, neighbor_id, exact_rank,
                   ROW_NUMBER() OVER (PARTITION BY shortlist, query_id
                       ORDER BY cosine DESC, neighbor_id) AS arank
            FROM fan
        ) WHERE arank <= {_IVF_TOPK}
    ), hitagg AS (
        SELECT shortlist,
               CAST(SUM(CASE WHEN exact_rank <= {_IVF_TOPK} THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM approx GROUP BY shortlist
    )
    SELECT c.shortlist, c.n_queries, c.n_rescored, h.hits,
           CAST(h.hits AS DOUBLE)
               / (CAST(c.n_queries AS DOUBLE) * {_IVF_TOPK}) AS recall_at_k
    FROM cost c JOIN hitagg h ON c.shortlist = h.shortlist
    ORDER BY c.shortlist
    """,
    doc="the SQ8 tuning instrument (q230's sweep for the QUANTIZED "
    "probe): how deep must q232's rescore shortlist be before the "
    "quantized admission stops costing recall against the "
    "full-precision probe at the same nprobe? The ADMISSION arm is "
    "q232's codes-only scan (persisted int8 codes, no float column — "
    "ReadSchema pinned); the floats page in twice, both audit-priced: "
    "once for the max-depth shortlist's rescore (<= max(R) x |queries| "
    "rows, broadcast into the embeddings scan) and once for the "
    "full-precision TRUTH arm the sweep exists to compare against "
    f"(q230's audit-arm contract). Each shortlist budget in "
    f"{_SQ8_SWEEP_DEPTHS} keeps its top-R by quantized dot, rescores, "
    "and its exact-cosine top-3 is checked against the full-precision "
    "probed ranking — recall monotone in R by construction, and the R "
    "where it hits 1.0 is the rescore budget you ship (FAISS's "
    "k_factor refine sweep as a driver-gated table). n_rescored is the "
    "cost axis and counts the ACTUAL fan rows per budget — a query "
    "whose probed buckets hold fewer than R candidates contributes "
    "what it actually rescored, not the nominal R (r13 ADVICE #3). "
    "The level fan-out is a literal explode over the already-ranked "
    "frame — one admission scan, no re-probe per level.",
)
def q236_sq8_shortlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_ivf_index(spark, sf_dir)
    e = T(spark, sf_dir, "embeddings")
    # ADMISSION arm — q232's shared codes-only stage at the max budget
    probes, shortpool = _sq8_admission(spark, sf_dir, max(_SQ8_SWEEP_DEPTHS))
    # rescore the max-depth pool once; every smaller budget is a filter
    resc = (
        _sq8_pull(e, probes, shortpool)
        .select("query_id", "neighbor_id", "srn", cosine().alias("cosine"))
        .localCheckpoint()  # two consumers: cost aggregate + arank window
    )
    # TRUTH arm — the full-precision probed ranking (the audit's
    # necessary float scan, exactly q230's brute-leg contract): the
    # exact top-k set membership stands in for exact_rank <= k
    truth = cosine_topk(
        spark.read.parquet(os.path.join(idx, "cand"))
        .select("vec_id", "centroid_id", "embedding")
        .join(
            F.broadcast(probes.select("query_id", "q_emb", "centroid_id")),
            "centroid_id",
        ),
        _IVF_TOPK,
        rank="exact_rank",
    ).select("query_id", "neighbor_id")
    return shortlist_sweep(resc, truth, _SQ8_SWEEP_DEPTHS, _IVF_TOPK)


# -- q238: the derived centroid-count plan — C = f(corpus) as model state ----

from etl_entregas_pyspark_spark.queries.relational import _rnd_sql, rnd  # noqa: E402
from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _IVF_C_DIVISOR,
    _IVF_C_FLOOR,
    ivf_centroid_count,
)

_Q238_C_SQL = (
    f"GREATEST(CAST({_IVF_C_FLOOR} AS BIGINT), "
    f"CAST(FLOOR(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) / {_IVF_C_DIVISOR}) "
    "AS BIGINT))"
)


@register(
    "q238_ivf_centroid_plan",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {_Q238_C_SQL} AS derived_c,
           CAST({_NPROBE} AS BIGINT) AS nprobe,
           {_rnd_sql(f'CAST({_NPROBE} AS DOUBLE) / {_Q238_C_SQL}', 6)}
               AS probe_fraction
    FROM embeddings
    """,
    doc="the IVF sizing DECISION as a driver-gated row (r13 VERDICT "
    "missing #3 / next-round #4): C is no longer a pinned constant but "
    "model state derived from the corpus count — C = max(8, "
    "floor(floor(sqrt(n))/32)), √n-style growth with the historical "
    "floor, computed with correctly-rounded IEEE ops only (double "
    "sqrt, floor, power-of-two divide) so Python (ivf_centroid_count, "
    "the build-side twin), Spark and DuckDB agree bit-for-bit. "
    "ivf_centroids derives C through the same helper, so every IVF "
    "build/probe/refresh sizes its partition grid from this row's "
    "formula; at the oracle scales C == 8 and all vec_id<8 oracles "
    "stay exact, while the emitted probe_fraction (~nprobe/C — the "
    "fraction of the corpus a probe scans) shrinks as the corpus "
    "grows: 1M vectors -> C=31 -> 6.5%%, 1B -> C~988 -> 0.2%% at "
    "nprobe=2 (SCALE.md r14 ladder measures the scan fraction "
    "tracking it). Plan: one COUNT aggregate — model state, no data "
    "movement.",
)
def q238_ivf_centroid_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    c = F.greatest(
        F.lit(_IVF_C_FLOOR).cast("bigint"),
        F.floor(
            F.floor(F.sqrt(F.col("n_vectors").cast("double")))
            / F.lit(_IVF_C_DIVISOR)
        ).cast("bigint"),
    )
    return (
        e.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .select(
            "n_vectors",
            c.alias("derived_c"),
            F.lit(_NPROBE).cast("bigint").alias("nprobe"),
            rnd(F.lit(_NPROBE).cast("double") / c, 6).alias("probe_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# q242 — IVF-PQ: q223's partition-pruned probe composed over q240's ADC
#         scan (the composition both docstrings promise), with RESIDUAL
#         product-quantization codes persisted in the inverted file.
# ---------------------------------------------------------------------------

from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _PQ_K,
    _PQ_M,
    _PQ_SCALE,
    _PQ_SHORTLIST,
    _PQ_SUB,
    _pq_subspaces,
)

# test hook: (re)build count per index path — probes must never rebuild
IVFPQ_INDEX_BUILDS: dict[str, int] = {}


def _ivfpq_residuals(src: DataFrame, cent: DataFrame) -> DataFrame:
    """Residuals r = x − c(x) in ``_pq_subspaces``-sliceable form:
    (vec_id, centroid_id, embedding) where ``embedding`` IS the residual
    (array<double>). PQ on residuals beats PQ on raw vectors because the
    centroid already explains the coarse position — the codebook only has
    to cover the within-bucket spread (FAISS's IVFPQ contract). ``src``
    is any (vec_id, embedding) slice — the full corpus at build time, an
    arriving batch at ingest time (q243)."""
    return (
        ivf_assign(src, cent, keep=1)
        .drop("d2")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "embedding",
                "c_emb",
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("embedding"),
        )
    )


def ensure_ivfpq_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write the IVF-PQ index once per (session, sf_dir); return its root.

    Layout (all three written at build time, probes read-only):
    - ``centroids/`` — (centroid_id, c_emb), the broadcastable coarse
      quantizer (same shape as ensure_ivf_index's).
    - ``codebook/`` — (m, k, cw): per-subspace residual codewords — the
      deterministic sample convention (vec_id 16..16+K's residual
      subvectors), M x K x SUB doubles of model state, broadcast
      everywhere.
    - ``cand/centroid_id=<b>/`` — (vec_id, codes array<tinyint>): each
      corpus vector as M 4-bit PQ codes over its RESIDUAL, one physical
      partition per inverted list. No float column at all — M/2 bytes
      per vector packed (the logical 4-bit layout; the demo's
      array<tinyint> spends a byte per code) vs 256 for floats: the
      layout that lets a 100-TB corpus's entire search structure fit on
      a fraction of the nodes.

    Gated on ``cand/_SUCCESS`` written LAST, so a half-built index is
    rebuilt, never probed (ensure_ivf_index's discipline)."""
    path = store_path(spark, sf_dir, "ivfpq_index")
    if not force and os.path.exists(os.path.join(path, "cand", "_SUCCESS")):
        return path
    e = T(spark, sf_dir, "embeddings")
    cent = ivf_centroids(e)
    cent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    # residuals feed BOTH the codebook and the encode pass
    resid = _ivfpq_residuals(
        corpus_slice(e), cent
    ).localCheckpoint()
    (
        _pq_subspaces(
            resid.filter(F.col("vec_id") < 16 + _PQ_K), "cb_vec", "cw"
        )
        .select("m", (F.col("cb_vec") - 16).alias("k"), "cw")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "codebook"))
    )
    cb = spark.read.parquet(os.path.join(path, "codebook"))
    (
        _ivfpq_encode(resid, cb)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "cand"))
    )
    IVFPQ_INDEX_BUILDS[path] = IVFPQ_INDEX_BUILDS.get(path, 0) + 1
    return path


def _ivfpq_encode(resid: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode residual rows against a FROZEN codebook: per subspace the
    nearest codeword (exact L2², deterministic k tie-break), re-packed
    as one array<tinyint> per vector. Returns (vec_id, codes,
    centroid_id) — shared by the bulk build (ensure_ivfpq_index) and
    the O(batch) ingest path (q243), so the two can never drift."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("cw"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # exact argmin via map-side-partial min(struct(d2, k)) — the former
    # window's (d2, k) ordering without sorting the (n x M x K) grid
    codes_long = (
        _pq_subspaces(resid, "vec_id", "sv")
        .join(F.broadcast(cb), "m")
        .select("vec_id", "m", "k", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("k"))).alias("s"))
        .select("vec_id", "m", F.col("s.k").alias("code"))
    )
    return (
        codes_long.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"],
            )
            .cast("array<tinyint>")
            .alias("codes")
        )
        .join(resid.select("vec_id", "centroid_id"), "vec_id")
    )


def _ivfpq_admission(
    spark: SparkSession,
    sf_dir: str,
    cand_codes: DataFrame | None = None,
    idx_root: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The IVF-PQ ADMISSION stage, pre-checkpoint so its plan is
    testable: returns ``(probes, scored)``.

    - ``probes``: the query batch assigned against the persisted coarse
      quantizer, one row per (query, probed centroid), carrying q_emb
      plus the floor-scaled integer dot(q, centroid) — the per-bucket
      ADC offset (dot(q,x) = dot(q,c) + dot(q,r) exactly, so the
      residual LUT sum needs the centroid term added back once).
    - ``scored``: (query_id, neighbor_id, adc) for every candidate in a
      probed partition. The inverted-file scan reads (vec_id,
      centroid_id, codes) — there IS no float column in the candidate
      file; vectors never enter until the shortlist rescore.

    ``cand_codes`` overrides the candidate source (q243 probes the
    live epoch-fenced codes store instead of the bulk-built file); the
    bucket restriction applies either way. ``idx_root`` points the whole
    admission at a different persisted layout with the same directory
    shape (q249 probes the REFRESHED-codebook index)."""
    idx = idx_root or ensure_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    cb = spark.read.parquet(os.path.join(idx, "codebook"))
    e = T(spark, sf_dir, "embeddings")
    probes = (
        probe_batch(e, cent, _NPROBE)
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "query_id",
            "q_emb",
            "centroid_id",
            F.floor(dot(F.col("q_emb"), F.col("c_emb")) * _PQ_SCALE)
            .cast("long")
            .alias("cdot"),
        )
        .localCheckpoint()  # consumers: bucket pull, scan join, rescore
    )
    opened = open_buckets(probes)
    # per-query LUT over the residual codebook: exact subspace dots,
    # floor-scaled to ints (order-independent, engine-portable sums)
    pdot = F.floor(
        F.aggregate(
            F.zip_with(
                F.col("qsv"),
                F.col("cw"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * _PQ_SCALE
    ).cast("long")
    lut = (
        _pq_subspaces(query_slice(e), "query_id", "qsv")
        .join(F.broadcast(cb), "m")
        .select("query_id", "m", F.col("k").alias("code"), pdot.alias("pdot"))
    )
    cand_src = (
        spark.read.parquet(os.path.join(idx, "cand"))
        if cand_codes is None
        else cand_codes
    )
    codes_long = (
        cand_src.filter(opened)
        .select(
            "vec_id",
            "centroid_id",
            F.posexplode(F.col("codes").cast("array<long>")).alias(
                "m", "code"
            ),
        )
    )
    scored = (
        codes_long.join(
            F.broadcast(probes.select("query_id", "centroid_id", "cdot")),
            "centroid_id",
        )
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg((F.min("cdot") + F.sum("pdot")).cast("long").alias("adc"))
    )
    return probes, scored


def _ivfpq_oracle(scan_pred: str = "") -> str:
    """q242's full-rebuild recomputation. ``scan_pred`` optionally
    restricts the CANDIDATE SCAN only (q245's forget contract: the
    codebook and centroids stay frozen — deletion never retrains model
    state — but denied vectors must not be scored)."""
    scan_where = f"WHERE {scan_pred}" if scan_pred else ""
    sl = f"m.m * {_PQ_SUB} + 1, m.m * {_PQ_SUB} + {_PQ_SUB}"
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, b.cw), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    qdot = (
        "list_sum(list_transform(list_zip(s.qsv, b.cw), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    cdot = (
        "list_sum(list_transform(list_zip(p.q_emb, c.c_emb), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    cosine = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), resid AS (
        SELECT a.vec_id, a.centroid_id,
               list_transform(list_zip(a.embedding, c.c_emb),
                   p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
        FROM cand a JOIN cent c ON a.centroid_id = c.centroid_id
    ), cb AS (
        SELECT m.m, r.vec_id - 16 AS k, list_slice(r.rv, {sl}) AS cw
        FROM (SELECT * FROM resid WHERE vec_id < {16 + _PQ_K}) r
        CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), rsub AS (
        SELECT r.vec_id, r.centroid_id, m.m, list_slice(r.rv, {sl}) AS sv
        FROM resid r CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), codes AS (
        SELECT vec_id, centroid_id, m, k AS code FROM (
            SELECT s.vec_id, s.centroid_id, s.m, b.k,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {d2}, b.k) AS rn
            FROM rsub s JOIN cb b ON s.m = b.m
        ) WHERE rn = 1
    ), probes AS (
        SELECT p.query_id, p.q_emb, p.centroid_id,
               CAST(FLOOR({cdot} * {_PQ_SCALE}.0) AS BIGINT) AS cdot
        FROM (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
              FROM ({_PROBE_ASSIGN_SQL}) WHERE rn <= {_NPROBE}) p
        JOIN cent c ON p.centroid_id = c.centroid_id
    ), qsub AS (
        SELECT q.vec_id AS query_id, m.m, list_slice(q.embedding, {sl}) AS qsv
        FROM (SELECT * FROM embeddings WHERE vec_id >= 8 AND vec_id < 16) q
        CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), lut AS (
        SELECT s.query_id, s.m, b.k AS code,
               CAST(FLOOR({qdot} * {_PQ_SCALE}.0) AS BIGINT) AS pdot
        FROM qsub s JOIN cb b ON s.m = b.m
    ), scores AS (
        SELECT p.query_id, co.vec_id AS neighbor_id,
               CAST(MIN(p.cdot) + SUM(l.pdot) AS BIGINT) AS adc
        FROM codes co
        JOIN probes p ON co.centroid_id = p.centroid_id
        JOIN lut l ON l.query_id = p.query_id
                  AND l.m = co.m AND l.code = co.code
        {scan_where}
        GROUP BY p.query_id, co.vec_id
    ), short AS (
        SELECT query_id, neighbor_id, adc FROM (
            SELECT query_id, neighbor_id, adc,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, neighbor_id) AS srn
            FROM scores
        ) WHERE srn <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, adc, cosine, rank FROM (
        SELECT sh.query_id, sh.neighbor_id, sh.adc, {cosine} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY sh.query_id
                   ORDER BY {cosine} DESC, sh.neighbor_id) AS rank
        FROM short sh
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 8 AND vec_id < 16) q ON sh.query_id = q.vec_id
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 16) c ON sh.neighbor_id = c.vec_id
    ) WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """


@register(
    "q242_ivfpq_search",
    _ivfpq_oracle(),
    doc="IVF-PQ — the composition q223 and q240 both promise in their "
    "docstrings, now a driver-gated table (FAISS's IVFPQ layout as a "
    "parquet partition grid): the coarse quantizer routes each corpus "
    "vector to its nearest centroid, the vector's RESIDUAL r = x - c "
    f"encodes as {_PQ_M} 4-bit PQ codes (residual codebooks — the "
    "centroid explains the coarse position, so the codebook only covers "
    "within-bucket spread), and the inverted file persists (vec_id, "
    "codes) partitioned by centroid_id with NO float column at all — "
    f"{_PQ_M // 2} bytes/vector packed (array<tinyint> on disk in the "
    "demo) vs 256, the 64x compression that lets a 100-TB corpus's "
    "whole search structure live on a fraction of the "
    "nodes. A probe composes BOTH prunings: partition pruning opens "
    f"only the {_NPROBE} probed centroid_id= lists (~nprobe/C of the "
    "corpus, q223's axis) and the scan over them touches only codes "
    "(q240's axis). ADC is exact on the decomposition dot(q,x) = "
    "dot(q,c) + dot(q,r): per (query, probed centroid) ONE floor-scaled "
    f"integer offset, per query ONE {_PQ_M}x{_PQ_K} LUT of residual "
    "subspace dots, and the scan term is a broadcast-hash-join of the "
    "skinny code rows against both — map-side partial sums, no vector "
    f"in the shuffle. The ADC top-{_PQ_SHORTLIST} shortlist is rescored "
    f"with exact cosine for the final top-{_IVF_TOPK} (q232's refine "
    "contract); emitted rows carry both the admitting ADC score and "
    "the ranking cosine, so a codebook, residual, offset, or LUT bug "
    "shifts admissions and fails the hash gate.",
)
def q242_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    probes, scored = _ivfpq_admission(spark, sf_dir)
    return _ivfpq_finish(e, probes, scored)


def _ivfpq_finish(
    e: DataFrame, probes: DataFrame, scored: DataFrame
) -> DataFrame:
    """Shortlist + exact rescore shared by the IVF-PQ probes (q242 bulk
    index, q243/q245/q252 stores, q249 refreshed index): q240's refine
    tail with the query vectors taken from the probe frame."""
    return shortlist_rescore(
        scored, corpus_slice(e), batch_queries(probes), _PQ_SHORTLIST, _IVF_TOPK
    )


# ---------------------------------------------------------------------------
# q243 — IVF-PQ ingest commit + live probe: the frozen-codebook add() path.
#         q224 proved epoch-fenced ingest for the MEMBERSHIP table; the PQ
#         index additionally carries codes, and the production question is
#         whether a batch encoded LIVE (against the persisted model state,
#         never re-encoding the standing corpus) probes identically to a
#         full rebuild. q228's equivalence contract, applied to IVF-PQ.
# ---------------------------------------------------------------------------

IVFPQ_CODE_COLS = ["vec_id", "centroid_id", "codes"]


def ensure_ivfpq_commit(spark: SparkSession, sf_dir: str) -> str:
    """Build the epoch-fenced PQ codes store and commit one arriving
    batch into it, exactly once per (session, sf_dir).

    Epoch 0 bulk-loads the STANDING corpus's (vec_id, centroid_id,
    codes) rows from the persisted index; epoch 1 encodes the arriving
    batch against the FROZEN model state — the persisted coarse
    quantizer and residual codebook, via the same ``_ivfpq_encode``
    the bulk build runs, so live and rebuilt codes can never drift —
    and lands it with EpochStore's write-first / swing-last commit.
    The standing corpus is never re-assigned or re-encoded: ingest is
    O(batch x C) assignment + O(batch x M x K) encode, FAISS's
    IVFPQ add() as a table commit."""
    path = store_path(spark, sf_dir, "ivfpq_store")
    store = EpochStore(path, IVFPQ_CODE_COLS)
    if store.pointer()["epoch"] >= 1:
        return path
    idx = ensure_ivfpq_index(spark, sf_dir)
    cand = spark.read.parquet(os.path.join(idx, "cand"))
    # the bulk file's partition column reads back as int32: normalize
    # both epochs to bigint so the store's schema is uniform
    store.seed(
        cand.filter(F.col("vec_id") % _VEC_BATCH_MOD != 0).select(
            "vec_id", F.col("centroid_id").cast("long").alias("centroid_id"), "codes"
        )
    )
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    cb = spark.read.parquet(os.path.join(idx, "codebook"))
    batch = T(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 16) & (F.col("vec_id") % _VEC_BATCH_MOD == 0)
    )
    live = _ivfpq_encode(_ivfpq_residuals(batch, cent), cb)
    store.append(live.select(*IVFPQ_CODE_COLS), 1)  # fenced: re-runs skip
    return path


@register(
    "q243_ivfpq_ingest_probe",
    REGISTRY["q242_ivfpq_search"].oracle,
    doc="the IVF-PQ ingest path proven at the probe (q228's "
    "live-vs-batch equivalence contract for the PQ index): one corpus "
    f"slice (vec_id %% {_VEC_BATCH_MOD} == 0) plays an arriving batch "
    "that is encoded LIVE against the FROZEN persisted model state — "
    "coarse quantizer + residual codebook, through the same "
    "_ivfpq_encode the bulk build runs — and committed into an "
    "epoch-fenced codes store (EpochStore's write-first / swing-last "
    "pointer, exactly-once under re-runs); the standing corpus's codes "
    "bulk-load at epoch 0 and are never re-encoded. The probe then "
    "runs q242's full admission + rescore over the STORE instead of "
    "the bulk file, and the oracle is VERBATIM q242's full-rebuild "
    "recomputation — so a dropped epoch, a double commit, or any "
    "drift between the live encoder and the build encoder shifts "
    "admissions and fails the driver hash gate. Scale: ingest moves "
    f"O(batch) skinny code rows ({_PQ_M} bytes/vector) into the "
    "arriving vectors' buckets only; nothing corpus-sized is touched "
    "— the operational property that makes a standing 100-TB PQ index "
    "maintainable between rebuilds (q231/q234 govern WHEN to retrain; "
    "this governs what happens every hour in between).",
)
def q243_ivfpq_ingest_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    store = EpochStore(ensure_ivfpq_commit(spark, sf_dir), IVFPQ_CODE_COLS)
    probes, scored = _ivfpq_admission(
        spark, sf_dir, cand_codes=store.read(spark)
    )
    return _ivfpq_finish(e, probes, scored)


# ---------------------------------------------------------------------------
# q244 — the ANN engine decision MATRIX: every index family the engine
#         ships (IVF-flat, IVF-SQ8+refine, flat PQ/ADC, IVF-PQ), one table,
#         same queries, same truth arm — recall@k against brute force and
#         the two cost axes (candidates scored, bytes per scanned vector)
#         that actually pick an engine at 100 TB.
# ---------------------------------------------------------------------------

# admission bytes per scanned vector — the literal decision axis, one
# convention everywhere (r15 ADVICE #2): 64 float32 = 256, 64 int8 = 64,
# _PQ_M 4-bit codes packed = _PQ_M/2 (the logical layout; the demo's
# array<tinyint> persistence spends a byte per code, which the SCALE.md
# footer measurements price separately).
_ANN_BYTES = {
    "ivf_flat": _EMB_DIMS * 4,
    "ivf_sq8": _EMB_DIMS,
    "pq_adc": _PQ_M // 2,
    "ivfpq": _PQ_M // 2,
}


def _q244_oracle() -> str:
    cosine = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    engines = {
        "ivf_flat": REGISTRY["q223_ivf_probe_persisted"].oracle,
        "ivf_sq8": REGISTRY["q232_ivf_sq8_rescore"].oracle,
        "pq_adc": REGISTRY["q240_pq_adc_search"].oracle,
        "ivfpq": REGISTRY["q242_ivfpq_search"].oracle,
    }
    pairs = "\n        UNION ALL ".join(
        f"SELECT '{eng}' AS engine, query_id, neighbor_id FROM ({sql})"
        for eng, sql in engines.items()
    )
    return f"""
    WITH qn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM embeddings
        WHERE vec_id >= 8 AND vec_id < 16
    ), truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {cosine} DESC, c.vec_id) AS xr
            FROM (SELECT * FROM embeddings WHERE vec_id >= 8 AND vec_id < 16) q
            CROSS JOIN (SELECT * FROM embeddings WHERE vec_id >= 16) c
        ) WHERE xr <= {_IVF_TOPK}
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, centroid_id FROM ({_CAND_ASSIGN_SQL}) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, centroid_id
        FROM ({_PROBE_ASSIGN_SQL}) WHERE rn <= {_NPROBE}
    ), probed AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id
    ), fullg AS (
        SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id >= 16)
                    * (SELECT n_queries FROM qn) AS BIGINT) AS n
    ), costs AS (
        SELECT 'ivf_flat' AS engine, (SELECT n FROM probed) AS candidates_scored,
               CAST({_ANN_BYTES['ivf_flat']} AS BIGINT) AS scan_bytes_per_vec
        UNION ALL SELECT 'ivf_sq8', (SELECT n FROM probed),
               CAST({_ANN_BYTES['ivf_sq8']} AS BIGINT)
        UNION ALL SELECT 'pq_adc', (SELECT n FROM fullg),
               CAST({_ANN_BYTES['pq_adc']} AS BIGINT)
        UNION ALL SELECT 'ivfpq', (SELECT n FROM probed),
               CAST({_ANN_BYTES['ivfpq']} AS BIGINT)
    ), pairs AS (
        {pairs}
    ), hits AS (
        SELECT p.engine, CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits
        FROM pairs p LEFT JOIN truth t
          ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
        GROUP BY p.engine
    )
    SELECT c.engine, qn.n_queries, c.candidates_scored, c.scan_bytes_per_vec,
           h.hits,
           CAST(h.hits AS DOUBLE)
               / (CAST(qn.n_queries AS DOUBLE) * {_IVF_TOPK}) AS recall_at_k
    FROM costs c CROSS JOIN qn JOIN hits h ON c.engine = h.engine
    ORDER BY c.engine
    """


@register(
    "q244_ann_engine_matrix",
    _q244_oracle(),
    doc="the pre-ship ANN DECISION as one driver-gated table: all four "
    "index engines the repo ships — ivf_flat (q223: partition-pruned "
    "probe, full-precision scan), ivf_sq8 (q232: codes-only admission "
    "+ refine), pq_adc (q240: flat code-space scan, no vectors), and "
    "ivfpq (q242: both prunings composed) — run the SAME query batch "
    "and are judged against the SAME brute-force truth arm, emitting "
    f"recall@{_IVF_TOPK} plus the two axes that actually choose an "
    "engine at 100 TB: candidates_scored (the probed-pair count — "
    "~nprobe/C of the corpus for the IVF engines, the full grid for "
    "the flat ADC scan) and scan_bytes_per_vec (256 float / 64 int8 / "
    "4 PQ — admission bandwidth per candidate). Every engine branch "
    "is the REGISTERED operator's own logic and every oracle branch "
    "is that operator's registered SQL verbatim, so this row cannot "
    "drift from the operators it summarizes — a recall or cost change "
    "in any family shifts this table and fails the driver hash gate. "
    "The judgment the table encodes (demo scale, isotropic synthetic "
    "embeddings): SQ8 holds recall at 4x less admission bandwidth; "
    "PQ buys 64x compression at a real recall price (its honest "
    "worst case — no cluster structure); IVF-PQ recovers most of it "
    "back by quantizing residuals. Scale: three aggregates over "
    "already-skinny frames; the truth arm is the only corpus x query "
    "term (the audit's necessary full-precision leg, q230's "
    "brute-leg contract).",
)
def q244_ann_engine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_entregas_pyspark_spark.queries.similarity import (
        q240_pq_adc_search,
    )

    e = T(spark, sf_dir, "embeddings")
    corpus = corpus_slice(e)
    qset = query_slice(e)
    # truth arm: brute-force exact top-k
    truth = brute_truth(
        corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        query_vectors(e),
        _IVF_TOPK,
        rank="xr",
        neighbor="neighbor_id",
    )
    engines = {
        "ivf_flat": q223_ivf_probe_persisted,
        "ivf_sq8": q232_ivf_sq8_rescore,
        "pq_adc": q240_pq_adc_search,
        "ivfpq": q242_ivfpq_search,
    }
    pairs = None
    for eng, fn in engines.items():
        p = fn(spark, sf_dir).select(
            F.lit(eng).alias("engine"), "query_id", "neighbor_id"
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    hits = recall_hits(pairs, truth, "engine")
    # cost axes: probed-pair count (shared coarse quantizer, so one
    # count serves all three IVF engines) and the flat scan's full grid.
    # The corpus side reads (vec_id, centroid_id) from the PERSISTED
    # index's cand/ membership — the engines above just probed that
    # exact assignment, so re-deriving it with a fresh ivf_centroids
    # (corpus count) plus a corpus x C assignment cross-join was
    # duplicate corpus-sized work (r15 ADVICE #3); only the 8-query
    # probe assignment (model-state-sized) recomputes, against the
    # persisted centroids.
    idx = ensure_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    probed_n = (
        spark.read.parquet(os.path.join(idx, "cand"))
        .select("vec_id", "centroid_id")
        .join(
            F.broadcast(
                ivf_assign(qset, cent, keep=_NPROBE).select(
                    F.col("vec_id").alias("query_id"), "centroid_id"
                )
            ),
            "centroid_id",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("probed_n"))
        # one row, THREE consumers (the ivf_flat/ivf_sq8/ivfpq cost rows
        # below): materialize once or the cand scan + probe join runs
        # per union branch (q158's multi-consumer rule, r16)
        .localCheckpoint()
    )
    full_n = (
        corpus.agg(F.count(F.lit(1)).alias("c_n"))
        .crossJoin(qset.agg(F.count(F.lit(1)).alias("q_n")))
        .select((F.col("c_n") * F.col("q_n")).cast("bigint").alias("full_n"))
    )
    qn = qset.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    costs = None
    for eng, bytes_ in _ANN_BYTES.items():
        src = full_n.select(F.col("full_n").alias("candidates_scored")) \
            if eng == "pq_adc" \
            else probed_n.select(F.col("probed_n").alias("candidates_scored"))
        row = src.select(
            F.lit(eng).alias("engine"),
            "candidates_scored",
            F.lit(bytes_).cast("bigint").alias("scan_bytes_per_vec"),
        )
        costs = row if costs is None else costs.unionByName(row)
    return (
        costs.crossJoin(F.broadcast(qn))
        .join(hits, "engine")
        .select(
            "engine",
            "n_queries",
            "candidates_scored",
            "scan_bytes_per_vec",
            "hits",
            (
                F.col("hits").cast("double")
                / (F.col("n_queries").cast("double") * F.lit(_IVF_TOPK))
            ).alias("recall_at_k"),
        )
        .orderBy("engine")
    )


# ---------------------------------------------------------------------------
# q245 — forget-request propagation into the PQ index, proven at the PROBE:
#         q227 proves the membership table forgets; the user-visible
#         contract is that SEARCH forgets — a denied vector must stop
#         surfacing as a neighbor, without retraining any model state.
# ---------------------------------------------------------------------------


def ensure_ivfpq_scrub(spark: SparkSession, sf_dir: str) -> str:
    """Seed a dedicated PQ codes store from q243's COMMITTED state and
    execute the deletion compaction on it, once per (session, sf_dir).
    EpochStore.scrub's filtered-compaction recipe: anti-join against the
    broadcast request set, rewrite as one base, swing the pointer last.
    The shared ingest store stays untouched (q243 keeps its contract)."""
    path = store_path(spark, sf_dir, "ivfpq_scrub_store")
    store = EpochStore(path, IVFPQ_CODE_COLS)
    if store.pointer().get("base_version") is not None:
        return path
    shared = EpochStore(ensure_ivfpq_commit(spark, sf_dir), IVFPQ_CODE_COLS)
    store.seed(shared.read(spark))
    deny = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_DENY_MOD == 2)
        .select("vec_id")
    )
    # centroid-clustered rewrite: the surviving base keeps bucket
    # locality so post-scrub probes stay prunable (q227's discipline).
    # n_files is REQUIRED for the clustering to apply — _rewrite_base
    # only repartitions when a file count is given (r15 ADVICE #1)
    store.scrub(
        spark, deny, "vec_id", n_files=_MEMBER_FILES, shuffle_cols=("centroid_id",)
    )
    return path


@register(
    "q245_ivfpq_forget_probe",
    _ivfpq_oracle(scan_pred=f"co.vec_id % {_VEC_DENY_MOD} <> 2"),
    doc="right-to-be-forgotten proven at the SEARCH result for the PQ "
    "index (q227 proves the membership table forgets; this proves the "
    f"probe does): the request set (vec_id %% {_VEC_DENY_MOD} == 2) is "
    "scrubbed from the epoch-fenced PQ codes store via EpochStore's "
    "filtered compaction — anti-join against the broadcast denylist, "
    "one rewritten base, pointer swung last, interrupted scrubs "
    "re-runnable — and then q242's FULL admission + rescore runs over "
    "the scrubbed store. The oracle is q242's rebuild recomputation "
    "with ONLY the candidate scan restricted: centroids and the "
    "residual codebook stay FROZEN (deletion never retrains model "
    "state — even codewords sampled from now-denied vectors remain "
    "valid quantizer geometry, the production semantics), so a scrub "
    "that dropped too much, too little, or touched the codebook "
    "shifts admissions and fails the driver hash gate. Scale: one "
    "scan of the skinny codes table + a request-sized broadcast "
    "anti-join; embeddings are never read by the scrub, nothing "
    "corpus-sized shuffles — the forget path costs O(index), not "
    "O(corpus).",
)
def q245_ivfpq_forget_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    store = EpochStore(ensure_ivfpq_scrub(spark, sf_dir), IVFPQ_CODE_COLS)
    probes, scored = _ivfpq_admission(
        spark, sf_dir, cand_codes=store.read(spark)
    )
    return _ivfpq_finish(e, probes, scored)


# ---------------------------------------------------------------------------
# q246 — semantic decontamination AT INDEX SPEED: the embedding-side member
#         of the decontamination family (q64 is n-gram/lexical; published
#         practice also scrubs train docs EMBEDDING-near the eval set), with
#         the scrub set DERIVED by probing the standing IVF index instead of
#         an eval x corpus brute-force sweep.
# ---------------------------------------------------------------------------


@register(
    "q246_semantic_decontamination",
    f"""
    WITH hits AS (
        SELECT DISTINCT neighbor_id FROM (
            {REGISTRY["q73_ivf_search"].oracle}
        )
    ), train AS (
        SELECT vec_id, label FROM embeddings WHERE vec_id >= 16
    )
    SELECT t.label,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_flagged,
           CAST(COUNT(*) - COUNT(h.neighbor_id) AS BIGINT) AS n_after,
           {_rnd_sql('CAST(COUNT(h.neighbor_id) AS DOUBLE) / COUNT(*)', 6)}
               AS flag_rate
    FROM train t LEFT JOIN hits h ON t.vec_id = h.neighbor_id
    GROUP BY t.label ORDER BY t.label
    """,
    doc="embedding-side decontamination (q64's lexical n-gram scrub "
    "has a semantic blind spot: a paraphrased or re-tokenized eval "
    "item shares no 8-gram with its training-set near-duplicate but "
    "sits next to it in embedding space): the held-out eval batch "
    f"(vec_id 8..16) probes the PERSISTED IVF index (q223's partition-"
    f"pruned scan, nprobe={_NPROBE}) and every train vector surfacing "
    f"in any eval vector's cosine top-{_IVF_TOPK} becomes the scrub "
    "set — the denylist is DERIVED by the index, not supplied (q227 "
    "propagates a given list; this is where such a list comes from). "
    "Emitted per source label: train size, flagged count, post-scrub "
    "size, flag rate — the per-source accounting a mixture rebalance "
    "(q220) consumes after a scrub. Scale: this is THE argument for "
    "standing indexes in a data pipeline — brute-force eval-vs-corpus "
    "decontamination is |eval| x n cosine terms PER RELEASE, while the "
    "probe reads ~nprobe/C of the corpus from the inverted file and "
    "the scrub set moves as a skinny broadcast; the eval set changes "
    "far more often than the corpus, so the index amortizes across "
    "releases. The oracle recomputes the probe + scrub arithmetic "
    "from scratch, so an index staleness or dedup bug in the derived "
    "set fails the driver hash gate.",
)
def q246_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    top = q223_ivf_probe_persisted(spark, sf_dir)
    flagged = top.select("neighbor_id").distinct()
    train = (
        corpus_slice(T(spark, sf_dir, "embeddings"))
        .select("vec_id", "label")
    )
    joined = train.join(
        F.broadcast(flagged),
        train.vec_id == flagged.neighbor_id,
        "left",
    ).select("label", F.col("neighbor_id").isNotNull().alias("fl"))
    n_flagged = F.sum(F.when(F.col("fl"), 1).otherwise(0)).cast("bigint")
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            n_flagged.alias("n_flagged"),
            (F.count(F.lit(1)) - n_flagged).cast("bigint").alias("n_after"),
            rnd(
                n_flagged.cast("double") / F.count(F.lit(1)), 6
            ).alias("flag_rate"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Round 15 — the IVF-PQ codebook LIFECYCLE (r14 VERDICT missing #1): flat
# IVF retrains (q231 drift audit -> q234 refresh apply) but the PQ residual
# codebook was permanently FROZEN — under sustained ingest with drift,
# residual quantization error grows with no audit and no retrain path.
# q248 is the AUDIT (per-subspace quantization error of the arrived epoch
# vs the standing corpus, both against the frozen codebook) and q249 the
# APPLY (one Lloyd step on the COMMITTED code assignments, re-encode,
# probe the refreshed index and prove it against a from-scratch rebuild).
# ---------------------------------------------------------------------------


def _q248_oracle() -> str:
    sl = f"m.m * {_PQ_SUB} + 1, m.m * {_PQ_SUB} + {_PQ_SUB}"
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, b.cw), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), resid AS (
        SELECT a.vec_id,
               list_transform(list_zip(a.embedding, c.c_emb),
                   p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
        FROM cand a JOIN cent c ON a.centroid_id = c.centroid_id
    ), cb AS (
        SELECT m.m, r.vec_id - 16 AS k, list_slice(r.rv, {sl}) AS cw
        FROM (SELECT * FROM resid WHERE vec_id < {16 + _PQ_K}) r
        CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), rsub AS (
        SELECT r.vec_id, m.m, list_slice(r.rv, {sl}) AS sv,
               CASE WHEN r.vec_id % {_VEC_BATCH_MOD} = 0 THEN 1 ELSE 0 END AS ep
        FROM resid r CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), derr AS (
        -- MIN over codewords == the d2 of the stored argmin code (the
        -- encode tie-break only disambiguates EQUAL d2), so the oracle
        -- needs no codes reconstruction
        SELECT s.vec_id, s.m, s.ep, MIN({d2}) AS err
        FROM rsub s JOIN cb b ON s.m = b.m
        GROUP BY s.vec_id, s.m, s.ep
    ), per AS (
        SELECT m, ep, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(err * {_REFRESH_SCALE}) AS BIGINT)) AS BIGINT) AS qs
        FROM derr GROUP BY m, ep
    )
    SELECT s.m AS subspace, s.n AS n_standing, a.n AS n_arrived,
           {_rnd_sql(f'CAST(s.qs AS DOUBLE) / {_REFRESH_SCALE} / s.n', 6)} AS qerr_standing,
           {_rnd_sql(f'CAST(a.qs AS DOUBLE) / {_REFRESH_SCALE} / a.n', 6)} AS qerr_arrived,
           {_rnd_sql('CAST(a.qs * s.n AS DOUBLE) / CAST(s.qs * a.n AS DOUBLE)', 6)} AS drift_ratio
    FROM (SELECT * FROM per WHERE ep = 0) s
    JOIN (SELECT * FROM per WHERE ep = 1) a ON s.m = a.m
    ORDER BY s.m
    """


@register(
    "q248_ivfpq_drift_audit",
    _q248_oracle(),
    doc="the IVF-PQ codebook DRIFT AUDIT (q231's retrain-decision "
    "instrument for the residual quantizer): the committed codes "
    "store's standing epoch and arrived epoch are scored against the "
    "FROZEN codebook — per subspace, the mean quantization error "
    "(exact L2² between each residual subvector and its PERSISTED "
    "codeword) of the arrived batch next to the standing corpus, plus "
    "their ratio. drift_ratio ~ 1 means the frozen codebook still "
    "covers the arriving distribution (keep ingesting, q243); "
    "sustained growth means residuals have moved off the codewords "
    "and ADC scores are silently degrading — the number that tells "
    "you to run q249's refresh, exactly as q231's churn column tells "
    "flat IVF to re-cluster. Exactness: per-(vector, subspace) errors "
    "are deterministic double chains (array-ordered sums), then "
    f"floor-scaled (1e-7) to integer sums — order-independent, "
    "engine-portable; the ratio is a product of exact integers. The "
    "oracle recomputes assignment, codebook, and nearest-codeword "
    "error from scratch (MIN over codewords equals the stored argmin "
    "code's error), so a drifted store, a stale codebook, or an "
    "encode bug shifts the audit and fails the driver hash gate. "
    "Plan/scale: the audit reads the SKINNY codes store (epoch-split, "
    "q224's per-epoch read) plus an id-keyed float pull of just those "
    "vectors; codebook broadcast; one partial-agg shuffle keyed "
    "(vec, m) then (m, epoch) — M x 2 model-state rows out, nothing "
    "pairwise, O(n x M) like the encode it audits.",
)
def q248_ivfpq_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    cb = spark.read.parquet(os.path.join(idx, "codebook"))
    store = EpochStore(ensure_ivfpq_commit(spark, sf_dir), IVFPQ_CODE_COLS)
    # per-epoch read: epoch 0 = standing corpus, epoch 1 = arrived batch;
    # the store rows already carry the committed (centroid_id, codes) —
    # the standing assignment is NEVER recomputed for the audit
    member = None
    for ep in (0, 1):
        part = store.read_epoch(spark, ep).select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.lit(ep).alias("ep"),
            "codes",
        )
        member = part if member is None else member.unionByName(part)
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # id-keyed float pull + broadcast centroid join: residual rv = x - c
    resid = (
        member.join(e, "vec_id")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "ep",
            "codes",
            F.zip_with(
                "embedding",
                "c_emb",
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("rv"),
        )
    )
    # subspace slices + the STORED code per (vec, m): the audit scores
    # what the index actually persisted, not a recomputed argmin
    rsub = resid.select(
        "vec_id",
        "ep",
        F.posexplode(F.col("codes").cast("array<int>")).alias("m", "code"),
        "rv",
    ).select(
        "vec_id",
        "ep",
        "m",
        F.col("code").alias("k"),
        F.expr(f"slice(rv, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("cw"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    derr = rsub.join(F.broadcast(cb), ["m", "k"]).select(
        "ep",
        "m",
        F.floor(d2 * F.lit(float(_REFRESH_SCALE))).cast("long").alias("qv"),
    )
    per = derr.groupBy("m", "ep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qv").cast("bigint").alias("qs"),
    )
    s = per.filter(F.col("ep") == 0).select(
        "m", F.col("n").alias("n_standing"), F.col("qs").alias("qs_s")
    )
    a = per.filter(F.col("ep") == 1).select(
        "m", F.col("n").alias("n_arrived"), F.col("qs").alias("qs_a")
    )
    scale = F.lit(float(_REFRESH_SCALE))
    return (
        s.join(a, "m")
        .select(
            F.col("m").alias("subspace"),
            "n_standing",
            "n_arrived",
            rnd(
                F.col("qs_s").cast("double") / scale / F.col("n_standing"), 6
            ).alias("qerr_standing"),
            rnd(
                F.col("qs_a").cast("double") / scale / F.col("n_arrived"), 6
            ).alias("qerr_arrived"),
            rnd(
                (F.col("qs_a") * F.col("n_standing")).cast("double")
                / (F.col("qs_s") * F.col("n_arrived")).cast("double"),
                6,
            ).alias("drift_ratio"),
        )
        .orderBy("subspace")
    )


# -- q249: PQ codebook refresh + apply — one Lloyd step on the committed ----
#    code assignments, re-encode, probe the refreshed index (q234's
#    retrain-APPLY contract for the residual quantizer)

# test hook: (re)build count per refreshed-index path
IVFPQ_REFRESH_BUILDS: dict[str, int] = {}


def ensure_refreshed_ivfpq_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Refresh the PQ residual codebook with ONE Lloyd step and rebuild
    the codes file against it, once per (session, sf_dir); return the
    refreshed index root (same layout as ``ensure_ivfpq_index``).

    The k-means update uses the COMMITTED state only: each refreshed
    codeword is the element-wise mean (scaled-int accumulation —
    q231's ``refreshed_centroids`` discipline, per subspace) of the
    residual subvectors currently assigned to it by the PERSISTED
    codes column; residuals come from an id-keyed float pull against
    the persisted coarse quantizer. A codeword with no members keeps
    its frozen geometry (the k-means empty-cluster convention). The
    coarse quantizer is NOT retrained here — centroid refresh is
    q231/q234's move; this closes the inner quantizer's loop.
    Gated on ``cand/_SUCCESS`` written LAST (a half-built refresh is
    rebuilt, never probed)."""
    path = store_path(spark, sf_dir, "ivfpq_refresh")
    if not force and os.path.exists(os.path.join(path, "cand", "_SUCCESS")):
        return path
    idx = ensure_ivfpq_index(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    cent.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cb0 = spark.read.parquet(os.path.join(idx, "codebook"))
    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stored = spark.read.parquet(os.path.join(idx, "cand")).select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        "codes",
    )
    resid = (
        stored.join(e, "vec_id")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            "codes",
            F.zip_with(
                "embedding",
                "c_emb",
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("rv"),
        )
        .localCheckpoint()  # two consumers: the Lloyd step + the re-encode
    )
    # one Lloyd step: refreshed codeword = scaled-int element-wise mean
    # of the member residual subvectors under the COMMITTED codes
    rexp = (
        resid.select(
            F.posexplode(F.col("codes").cast("array<int>")).alias("m", "k"),
            "rv",
        )
        .select(
            "m",
            "k",
            F.expr(f"slice(rv, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
        )
        .select(
            "m",
            "k",
            F.explode(F.sequence(F.lit(1), F.lit(_PQ_SUB))).alias("pos"),
            "sv",
        )
        .select(
            "m",
            "k",
            "pos",
            F.floor(
                F.element_at("sv", F.col("pos")) * F.lit(float(_REFRESH_SCALE))
            )
            .cast("long")
            .alias("v"),
        )
    )
    cw2m = rexp.groupBy("m", "k", "pos").agg(
        (
            F.sum("v").cast("bigint").cast("double")
            / F.lit(float(_REFRESH_SCALE))
            / F.count(F.lit(1))
        ).alias("coord")
    )
    cw2g = (
        cw2m.groupBy("m", "k")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "coord"))).alias("pc"))
        .select("m", "k", F.transform("pc", lambda s: s["coord"]).alias("cw2"))
    )
    cb2 = (
        cb0.join(cw2g, ["m", "k"], "left")
        .select("m", "k", F.coalesce("cw2", "cw").alias("cw"))
    )
    cb2.write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    cb2r = spark.read.parquet(os.path.join(path, "codebook"))
    (
        _ivfpq_encode(
            resid.select(
                "vec_id", "centroid_id", F.col("rv").alias("embedding")
            ),
            cb2r,
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "cand"))
    )
    IVFPQ_REFRESH_BUILDS[path] = IVFPQ_REFRESH_BUILDS.get(path, 0) + 1
    return path


def _q249_oracle() -> str:
    sl = f"m.m * {_PQ_SUB} + 1, m.m * {_PQ_SUB} + {_PQ_SUB}"
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, b.cw), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    qdot = (
        "list_sum(list_transform(list_zip(s.qsv, b.cw), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    cdot = (
        "list_sum(list_transform(list_zip(p.q_emb, c.c_emb), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    cosine = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8
    ), cand AS (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1
    ), resid AS (
        SELECT a.vec_id, a.centroid_id,
               list_transform(list_zip(a.embedding, c.c_emb),
                   p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
        FROM cand a JOIN cent c ON a.centroid_id = c.centroid_id
    ), cb AS (
        SELECT m.m, r.vec_id - 16 AS k, list_slice(r.rv, {sl}) AS cw
        FROM (SELECT * FROM resid WHERE vec_id < {16 + _PQ_K}) r
        CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), rsub AS (
        SELECT r.vec_id, r.centroid_id, m.m, list_slice(r.rv, {sl}) AS sv
        FROM resid r CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), codes AS (
        SELECT vec_id, centroid_id, m, k AS code FROM (
            SELECT s.vec_id, s.centroid_id, s.m, b.k,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {d2}, b.k) AS rn
            FROM rsub s JOIN cb b ON s.m = b.m
        ) WHERE rn = 1
    ), rexp AS (
        SELECT s.m, co.code AS k, g.i AS pos,
               CAST(FLOOR(s.sv[g.i] * {_REFRESH_SCALE}) AS BIGINT) AS v
        FROM rsub s JOIN codes co ON s.vec_id = co.vec_id AND s.m = co.m
        CROSS JOIN generate_series(1, {_PQ_SUB}) AS g(i)
    ), cw2m AS (
        SELECT m, k, pos,
               CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE)
                   / {_REFRESH_SCALE} / COUNT(*) AS coord
        FROM rexp GROUP BY m, k, pos
    ), cw2g AS (
        SELECT m, k, list(coord ORDER BY pos) AS cw FROM cw2m GROUP BY m, k
    ), cb2 AS (
        SELECT b.m, b.k, COALESCE(g.cw, b.cw) AS cw
        FROM cb b LEFT JOIN cw2g g ON b.m = g.m AND b.k = g.k
    ), codes2 AS (
        SELECT vec_id, centroid_id, m, k AS code FROM (
            SELECT s.vec_id, s.centroid_id, s.m, b.k,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {d2}, b.k) AS rn
            FROM rsub s JOIN cb2 b ON s.m = b.m
        ) WHERE rn = 1
    ), probes AS (
        SELECT p.query_id, p.q_emb, p.centroid_id,
               CAST(FLOOR({cdot} * {_PQ_SCALE}.0) AS BIGINT) AS cdot
        FROM (SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
              FROM ({_PROBE_ASSIGN_SQL}) WHERE rn <= {_NPROBE}) p
        JOIN cent c ON p.centroid_id = c.centroid_id
    ), qsub AS (
        SELECT q.vec_id AS query_id, m.m, list_slice(q.embedding, {sl}) AS qsv
        FROM (SELECT * FROM embeddings WHERE vec_id >= 8 AND vec_id < 16) q
        CROSS JOIN generate_series(0, {_PQ_M - 1}) AS m(m)
    ), lut AS (
        SELECT s.query_id, s.m, b.k AS code,
               CAST(FLOOR({qdot} * {_PQ_SCALE}.0) AS BIGINT) AS pdot
        FROM qsub s JOIN cb2 b ON s.m = b.m
    ), scores AS (
        SELECT p.query_id, co.vec_id AS neighbor_id,
               CAST(MIN(p.cdot) + SUM(l.pdot) AS BIGINT) AS adc
        FROM codes2 co
        JOIN probes p ON co.centroid_id = p.centroid_id
        JOIN lut l ON l.query_id = p.query_id
                  AND l.m = co.m AND l.code = co.code
        GROUP BY p.query_id, co.vec_id
    ), short AS (
        SELECT query_id, neighbor_id, adc FROM (
            SELECT query_id, neighbor_id, adc,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, neighbor_id) AS srn
            FROM scores
        ) WHERE srn <= {_PQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, adc, cosine, rank FROM (
        SELECT sh.query_id, sh.neighbor_id, sh.adc, {cosine} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY sh.query_id
                   ORDER BY {cosine} DESC, sh.neighbor_id) AS rank
        FROM short sh
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 8 AND vec_id < 16) q ON sh.query_id = q.vec_id
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 16) c ON sh.neighbor_id = c.vec_id
    ) WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """


@register(
    "q249_ivfpq_refresh_apply",
    _q249_oracle(),
    doc="the PQ codebook retrain APPLY that answers q248's drift audit "
    "(q234's refresh-apply contract for the residual quantizer): one "
    "Lloyd step — each codeword re-derived as the scaled-int "
    "element-wise mean of the residual subvectors its COMMITTED code "
    "assignments own (the persisted codes column, never a recomputed "
    "argmin; empty codewords keep their frozen geometry), the corpus "
    "re-encoded against the refreshed codebook through the same "
    "_ivfpq_encode the bulk build runs, the refreshed index persisted "
    "under ensure_ivfpq_index's exact layout, and q242's full "
    "admission + rescore probed over it. The oracle recomputes the "
    "ENTIRE chain from the raw table — assignment, frozen codebook, "
    "committed codes, Lloyd means, re-encode, ADC probe, rescore — so "
    "a drifted member list, a lossy coordinate round-trip, a dropped "
    "empty-codeword rule, or an encode/LUT mismatch between the "
    "refreshed artifacts all shift admissions and fail the driver "
    "hash gate. Scale: the Lloyd step is ONE pass over the skinny "
    "codes store + an id-keyed float pull (O(n x M) rows, partial-agg "
    "shuffled on (m, k, pos) — M x K x SUB model-state rows out); the "
    "re-encode is the bulk build's own O(n x M x K) pass; model state "
    "broadcasts everywhere. Together with q248 this gives the PQ "
    "engine the full lifecycle flat IVF already had: build q242, "
    "ingest q243, forget q245, AUDIT q248, RETRAIN q249.",
)
def q249_ivfpq_refresh_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    idx = ensure_refreshed_ivfpq_index(spark, sf_dir)
    probes, scored = _ivfpq_admission(spark, sf_dir, idx_root=idx)
    return _ivfpq_finish(e, probes, scored)


# -- q252: LIVE-maintained PQ codes store (q228's streaming contract for ----
#    the IVF-PQ engine): foreachBatch encode against the FROZEN persisted
#    model state, epoch-fenced commits, mid-stream compaction, probe
#    equivalence against the bulk-built index (r14 VERDICT next #7)


def ivfpq_codes_batch(
    batch_df: DataFrame, epoch_id: int, store_dir: str, idx_root: str
) -> bool:
    """foreachBatch body for LIVE maintenance of the PQ codes store (the
    IVF-PQ twin of ``ivf_membership_batch``): arriving vectors are
    assigned against the SAVED coarse quantizer and their residuals
    encoded against the SAVED codebook — O(batch x C) + O(batch x M x K),
    the standing corpus is never re-encoded — and the skinny (vec_id,
    centroid_id, codes) rows land as a fenced epoch append. FAISS's
    IVFPQ ``add()`` as an exactly-once table commit."""
    store = EpochStore(store_dir, IVFPQ_CODE_COLS)
    if epoch_id <= store.pointer()["epoch"]:
        return False  # fence EARLY: skip the encode work entirely
    spark = batch_df.sparkSession
    cent = spark.read.parquet(os.path.join(idx_root, "centroids"))
    cb = spark.read.parquet(os.path.join(idx_root, "codebook"))
    live = _ivfpq_encode(
        _ivfpq_residuals(batch_df.select("vec_id", "embedding"), cent), cb
    ).localCheckpoint()  # decide BEFORE touching the store
    return store.append(live.select(*IVFPQ_CODE_COLS), int(epoch_id))


def start_ivfpq_codes_sink(
    vec_stream: DataFrame, store_dir: str, idx_root: str, checkpoint_dir: str
):
    """Run a streaming vector source (vec_id, embedding) into the live PQ
    codes store — the production shape ``ensure_live_ivfpq_codes``
    replays deterministically for the driver gate."""
    return (
        vec_stream.writeStream.foreachBatch(
            lambda df, epoch: ivfpq_codes_batch(df, epoch, store_dir, idx_root)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def compact_ivfpq_codes(spark: SparkSession, store_dir: str) -> int:
    """Fold the codes store's epoch dirs into one centroid-clustered base
    (bucket locality keeps post-compaction probes prunable)."""
    return EpochStore(store_dir, IVFPQ_CODE_COLS).compact(
        spark, n_files=_MEMBER_FILES, shuffle_cols=("centroid_id",)
    )


def ensure_live_ivfpq_codes(spark: SparkSession, sf_dir: str) -> str:
    """Build the corpus's PQ codes the LIVE way, once per (session,
    sf_dir): three vec_id-keyed epoch slices through
    ``ivfpq_codes_batch``, epoch 1 deliberately RE-DELIVERED
    (at-least-once recovery — must fence to a no-op) and a
    ``compact_ivfpq_codes`` after epoch 1 (the final read unions a
    compacted base with a post-compaction epoch dir — exactly
    ``ensure_live_ivf_membership``'s replay shape, for codes)."""
    path = store_path(spark, sf_dir, "ivfpq_live_store")
    store = EpochStore(path, IVFPQ_CODE_COLS)
    if store.pointer()["epoch"] >= _LIVE_VEC_EPOCHS - 1:
        return path
    idx = ensure_ivfpq_index(spark, sf_dir)
    corpus = (
        corpus_slice(T(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
    )
    sl = F.pmod(F.col("vec_id"), 3)
    ivfpq_codes_batch(corpus.filter(sl == 0), 0, path, idx)
    ivfpq_codes_batch(corpus.filter(sl == 1), 1, path, idx)
    ivfpq_codes_batch(corpus.filter(sl == 1), 1, path, idx)  # no-op fence
    compact_ivfpq_codes(spark, path)  # absorbs epochs 0-1 into base=v*
    ivfpq_codes_batch(corpus.filter(sl == 2), 2, path, idx)
    return path


@register(
    "q252_live_ivfpq_probe",
    REGISTRY["q242_ivfpq_search"].oracle,
    doc="q242's IVF-PQ probe with the codes resolved from the "
    "LIVE-MAINTAINED store: the corpus is replayed in three epoch "
    "slices through ivfpq_codes_batch (the streaming sink's "
    "foreachBatch body — each slice assigned against the SAVED coarse "
    "quantizer and encoded against the SAVED residual codebook only), "
    "including a deliberately re-delivered epoch (exactly-once "
    "fencing must skip it) and a mid-stream compact_ivfpq_codes (the "
    "final read unions the centroid-clustered compacted base with a "
    "post-compaction epoch). The probe is q242's full admission + "
    "rescore over the store, and the oracle is q242's full-rebuild "
    "SQL VERBATIM — so one green driver row certifies live-vs-batch "
    "IVF-PQ equivalence end-to-end: residual/encode parity between "
    "the streaming body and the bulk build, epoch fencing, pointer "
    "crash-safety, and compaction content-preservation, completing "
    "q228's pattern for the composed engine (flat membership was "
    "live; the CODES the engine actually scans now are too). Scale: "
    "per-epoch maintenance is O(batch) skinny code rows into the "
    "arriving vectors' buckets; the probe reads ~nprobe/C of the "
    "codes store — nothing corpus-sized moves at any point in the "
    "index's life.",
)
def q252_live_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    store = EpochStore(
        ensure_live_ivfpq_codes(spark, sf_dir), IVFPQ_CODE_COLS
    )
    probes, scored = _ivfpq_admission(
        spark, sf_dir, cand_codes=store.read(spark)
    )
    return _ivfpq_finish(e, probes, scored)


# -- q250: the ANN ENGINE CHOOSER — the cost-based decision that consumes ----
#    q244's matrix (r14 VERDICT missing #3: "q244 produces the four-engine
#    recall/cost matrix but nothing consumes it")

# the deployment's in-memory byte budget for the ADMISSION structure (the
# column the scan actually reads) — the external constraint a chooser is
# given, a demo stand-in for "what fits on the serving tier". 200 KB sits
# between sf0.01's full-precision footprint (~124 KB -> everything fits,
# highest-fidelity engine wins) and sf0.1's (~496 KB -> full precision is
# evicted, the codes engines compete) so the choice is live at BOTH gate
# scales; the SCALE.md engine-chooser ladder (its one-shot tool,
# tools/ann_chooser_ladder.py, is in git history at 7299fde) shows it
# flipping again when even int8 stops fitting.
_ANN_BUDGET_BYTES = 200_000


def _q250_oracle() -> str:
    return f"""
    WITH matrix AS (
        {_q244_oracle()}
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(MAX(len(embedding)) AS BIGINT) AS dim
        FROM embeddings WHERE vec_id >= 16
    ), priced AS (
        SELECT m.engine, s.n_vectors, s.dim,
               CAST({_ANN_BUDGET_BYTES} AS BIGINT) AS budget_bytes,
               m.scan_bytes_per_vec,
               CAST(s.n_vectors * m.scan_bytes_per_vec AS BIGINT) AS index_bytes,
               CAST(CASE WHEN s.n_vectors * m.scan_bytes_per_vec
                              <= {_ANN_BUDGET_BYTES} THEN 1 ELSE 0 END
                    AS BIGINT) AS fits_budget,
               CAST(m.candidates_scored * m.scan_bytes_per_vec AS BIGINT)
                   AS est_scan_bytes,
               m.recall_at_k
        FROM matrix m CROSS JOIN stats s
    ), anyf AS (
        SELECT MAX(fits_budget) AS any_fits FROM priced
    ), ranked AS (
        SELECT p.*, a.any_fits,
               ROW_NUMBER() OVER (PARTITION BY p.fits_budget
                   ORDER BY p.recall_at_k DESC, p.scan_bytes_per_vec DESC,
                            p.engine) AS rn,
               ROW_NUMBER() OVER (PARTITION BY p.fits_budget
                   ORDER BY p.index_bytes ASC, p.recall_at_k DESC,
                            p.engine) AS rn0
        FROM priced p CROSS JOIN anyf a
    )
    SELECT engine, n_vectors, dim, budget_bytes, scan_bytes_per_vec,
           index_bytes, fits_budget, est_scan_bytes, recall_at_k,
           CAST(CASE WHEN any_fits = 1
                     THEN CASE WHEN fits_budget = 1 AND rn = 1
                               THEN 1 ELSE 0 END
                     ELSE CASE WHEN rn0 = 1 THEN 1 ELSE 0 END
                END AS BIGINT) AS chosen
    FROM ranked ORDER BY engine
    """


@register(
    "q250_ann_engine_choice",
    _q250_oracle(),
    doc="the pre-ship engine DECISION that closes the loop q244's matrix "
    "opens: corpus stats (n_vectors, dim) derive INSIDE the plan (one "
    "metadata-cheap aggregate — q238's derived-C discipline), every "
    "engine's admission structure is priced at n x bytes/vec against "
    f"the declared {_ANN_BUDGET_BYTES}-byte serving budget, and the "
    "chosen engine is the highest-MEASURED-recall one that fits, ties "
    "broken toward MORE bytes per vector (equal demo-scale recall is "
    "optimistic for quantized engines on isotropic synthetic "
    "embeddings — fidelity is the safer tie-break) then engine name; "
    "when NOTHING fits, the least-infeasible engine (smallest "
    "footprint, recall tie-break) — a decision table must never come "
    "back empty (the 64x ladder rung caught exactly that). "
    "Emitted per engine: footprint, fit, predicted scan bytes "
    "(candidates x bytes/vec — the admission bandwidth an operator "
    "budgets), measured recall, chosen flag — FAISS's 'index factory "
    "by memory budget' guideline as ONE oracle-checked table. The "
    "recall column is q244's own measured matrix (each engine's "
    "REGISTERED logic vs the shared brute-force truth arm), so the "
    "decision can never drift from the operators it picks among; the "
    "arithmetic is pure integer products and one window over four "
    "model-state rows. As the corpus grows the choice flips exactly "
    "where the budget line crosses each footprint — "
    "SCALE.md's engine-chooser ladder records the flip (flat at small n, "
    "codes engines as n x 64B crosses the budget, IVF-PQ once only "
    "4B/vec fits) — the SCALE.md-recorded inversion, now a decision "
    "rule instead of a chart.",
)
def q250_ann_engine_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = q244_ann_engine_matrix(spark, sf_dir)
    e = T(spark, sf_dir, "embeddings")
    stats = corpus_slice(e).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.max(F.size("embedding")).cast("bigint").alias("dim"),
    )
    priced = m.crossJoin(F.broadcast(stats)).select(
        "engine",
        "n_vectors",
        "dim",
        F.lit(_ANN_BUDGET_BYTES).cast("bigint").alias("budget_bytes"),
        "scan_bytes_per_vec",
        (F.col("n_vectors") * F.col("scan_bytes_per_vec"))
        .cast("bigint")
        .alias("index_bytes"),
        F.when(
            F.col("n_vectors") * F.col("scan_bytes_per_vec")
            <= F.lit(_ANN_BUDGET_BYTES),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("fits_budget"),
        (F.col("candidates_scored") * F.col("scan_bytes_per_vec"))
        .cast("bigint")
        .alias("est_scan_bytes"),
        "recall_at_k",
    ).localCheckpoint()
    # ^ four rows, TWO consumers (the any_fits aggregate and the ranked
    # select below). Un-materialized, the ENTIRE q244 matrix — the
    # brute-force truth arm plus all four engine subtrees — executed
    # twice inside this one query (r15 VERDICT next-round #3; q158's
    # multi-consumer rule). Four model-state rows pin ~nothing.
    # four model-state rows through two tiny windows — documented scale:
    # the ranked set is |engines|, never data-sized. When NOTHING fits
    # the budget the chooser must still name an engine (you shard the
    # index or buy memory, but the decision table cannot come back
    # empty — the 64x ladder rung caught the null): fall back to the
    # LEAST-INFEASIBLE engine, smallest footprint first, recall as the
    # tie-break.
    anyf = priced.agg(F.max("fits_budget").alias("any_fits"))
    w = Window.partitionBy("fits_budget").orderBy(
        F.col("recall_at_k").desc(),
        F.col("scan_bytes_per_vec").desc(),
        F.col("engine"),
    )
    w0 = Window.partitionBy("fits_budget").orderBy(
        F.col("index_bytes").asc(),
        F.col("recall_at_k").desc(),
        F.col("engine"),
    )
    chosen = F.when(
        F.col("any_fits") == 1,
        ((F.col("fits_budget") == 1) & (F.col("rn") == 1)).cast("int"),
    ).otherwise((F.col("rn0") == 1).cast("int"))
    return (
        priced.crossJoin(F.broadcast(anyf))
        .select(
            "*",
            F.row_number().over(w).alias("rn"),
            F.row_number().over(w0).alias("rn0"),
        )
        .select(
            "engine",
            "n_vectors",
            "dim",
            "budget_bytes",
            "scan_bytes_per_vec",
            "index_bytes",
            "fits_budget",
            "est_scan_bytes",
            "recall_at_k",
            chosen.cast("bigint").alias("chosen"),
        )
        .orderBy("engine")
    )


# -- q253: IVF-PQ rescore-budget sweep — the k_factor tuning instrument ------
#    the composed engine was missing (q236 prices SQ8's budget, q241 flat
#    PQ's; IVF-PQ shipped with _PQ_SHORTLIST=8 un-audited)


def _q253_oracle() -> str:
    # reuse q242's CTE chain up to `scores`, then sweep budgets (q241's
    # split idiom); the truth arm is the full-precision PROBED ranking —
    # q236's contract: the sweep isolates residual-quantization loss
    # from coarse-probe loss, which q230 prices separately
    head = REGISTRY["q242_ivfpq_search"].oracle.split("), short AS (")[0]
    cosine = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    tcos = (
        "list_sum(list_transform(list_zip(p.q_emb, c.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(p.q_emb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    plan_values = ", ".join(f"({d})" for d in _SQ8_SWEEP_DEPTHS)
    return f"""{head}), ranked AS (
        SELECT query_id, neighbor_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, neighbor_id) AS srn
        FROM scores
    ), rescored AS (
        SELECT r.query_id, r.neighbor_id, r.srn, {cosine} AS cosine
        FROM ranked r
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 8 AND vec_id < 16) q ON r.query_id = q.vec_id
        JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 16) c ON r.neighbor_id = c.vec_id
        WHERE r.srn <= {max(_SQ8_SWEEP_DEPTHS)}
    ), truthp AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY {tcos} DESC, c.vec_id) AS xr
            FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id
        ) WHERE xr <= {_IVF_TOPK}
    ), levels AS (
        SELECT * FROM (VALUES {plan_values}) AS t(shortlist)
    ), fan AS (
        SELECT l.shortlist, r.query_id, r.neighbor_id, r.cosine
        FROM levels l JOIN rescored r ON r.srn <= l.shortlist
    ), cost AS (
        SELECT shortlist, CAST(COUNT(*) AS BIGINT) AS n_rescored,
               CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
        FROM fan GROUP BY shortlist
    ), approx AS (
        SELECT shortlist, query_id, neighbor_id FROM (
            SELECT shortlist, query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY shortlist, query_id
                       ORDER BY cosine DESC, neighbor_id) AS arank
            FROM fan
        ) WHERE arank <= {_IVF_TOPK}
    ), hitagg AS (
        SELECT a.shortlist, CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits
        FROM approx a LEFT JOIN truthp t
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        GROUP BY a.shortlist
    )
    SELECT c.shortlist, c.n_queries, c.n_rescored, h.hits,
           CAST(h.hits AS DOUBLE)
               / (CAST(c.n_queries AS DOUBLE) * {_IVF_TOPK}) AS recall_at_k
    FROM cost c JOIN hitagg h ON c.shortlist = h.shortlist
    ORDER BY c.shortlist
    """


@register(
    "q253_ivfpq_shortlist_sweep",
    _q253_oracle(),
    doc="the rescore-budget tuning instrument for the COMPOSED engine "
    "(q236 prices SQ8's shortlist, q241 flat PQ's; IVF-PQ shipped with "
    f"shortlist={_PQ_SHORTLIST} un-audited): each budget R in "
    f"{_SQ8_SWEEP_DEPTHS} keeps the ADC top-R per query, rescores with "
    "exact cosine, and its top-3 is checked against the FULL-PRECISION "
    "PROBED ranking — q236's truth contract: the sweep isolates "
    "residual-quantization loss from coarse-probe loss (q230 prices "
    "the latter), so the R where recall saturates is the refine budget "
    "you ship for THIS codebook, and a codebook regression shows up as "
    "the saturation point drifting right. n_rescored counts ACTUAL fan "
    "rows per budget (a query whose probed buckets hold fewer than R "
    "candidates contributes what it actually rescored). Plan: ONE "
    "admission scan (q242's shared codes-only stage), the budget "
    "fan-out is a literal explode over the already-ranked frame, the "
    "max-depth pool rescores once and every smaller budget is a "
    "filter; the truth arm is the audit's necessary float pull — "
    "membership from the persisted index, id-keyed vector join, "
    "probed partitions only. Scale: everything beyond the admission "
    "scan is <= max(R) x |queries| rows.",
)
def q253_ivfpq_shortlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    probes, scored = _ivfpq_admission(spark, sf_dir)
    pool = topk(scored, max(_SQ8_SWEEP_DEPTHS), score="adc", rank="srn")
    # rescore the max-depth pool once; every smaller budget is a filter
    resc = (
        float_pull(corpus_slice(e), pool, batch_queries(probes))
        .select("query_id", "neighbor_id", "srn", cosine().alias("cosine"))
        .localCheckpoint()  # two consumers: cost aggregate + arank window
    )
    # truth arm: full-precision PROBED ranking — membership from the
    # persisted index, id-keyed float pull, probed partitions only
    idx = ensure_ivfpq_index(spark, sf_dir)
    member = spark.read.parquet(os.path.join(idx, "cand")).select(
        "vec_id", F.col("centroid_id").cast("long").alias("centroid_id")
    )
    truth = cosine_topk(
        member.join(e.select("vec_id", "embedding"), "vec_id").join(
            F.broadcast(probes.select("query_id", "q_emb", "centroid_id")),
            "centroid_id",
        ),
        _IVF_TOPK,
        rank="xr",
    ).select("query_id", "neighbor_id")
    return shortlist_sweep(resc, truth, _SQ8_SWEEP_DEPTHS, _IVF_TOPK)


# -- q254: SQ8 scalar-quantizer drift audit — the range/clip instrument -----
#    completing the audit symmetry: coarse quantizer q231 (churn), PQ
#    residual codebook q248 (quantization error), scalar int8 range q254
#    (saturation + utilization — a distribution shift silently pins
#    arriving elements at +-127 and the quantized dots degrade with no
#    error raised anywhere)


def _q254_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.similarity import _q8_sql

    return f"""
    WITH el AS (
        SELECT CASE WHEN vec_id % {_VEC_BATCH_MOD} = 0 THEN 1 ELSE 0 END AS ep,
               vec_id, unnest({_q8_sql('embedding')}) AS code
        FROM embeddings WHERE vec_id >= 16
    ), per AS (
        SELECT ep,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_elems,
               CAST(SUM(CASE WHEN ABS(code) = 127 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped,
               CAST(SUM(ABS(code)) AS BIGINT) AS sum_abs
        FROM el GROUP BY ep
    )
    SELECT s.n_vecs AS n_standing, a.n_vecs AS n_arrived,
           s.n_elems AS elems_standing, a.n_elems AS elems_arrived,
           s.n_clipped AS clipped_standing, a.n_clipped AS clipped_arrived,
           {_rnd_sql('CAST(s.n_clipped AS DOUBLE) / s.n_elems', 6)}
               AS clip_frac_standing,
           {_rnd_sql('CAST(a.n_clipped AS DOUBLE) / a.n_elems', 6)}
               AS clip_frac_arrived,
           {_rnd_sql('CAST(s.sum_abs AS DOUBLE) / s.n_elems', 6)} AS util_standing,
           {_rnd_sql('CAST(a.sum_abs AS DOUBLE) / a.n_elems', 6)} AS util_arrived,
           {_rnd_sql('CAST(a.sum_abs * s.n_elems AS DOUBLE) / CAST(s.sum_abs * a.n_elems AS DOUBLE)', 6)}
               AS util_ratio
    FROM (SELECT * FROM per WHERE ep = 0) s
    JOIN (SELECT * FROM per WHERE ep = 1) a ON 1 = 1
    """


@register(
    "q254_sq8_clip_audit",
    _q254_oracle(),
    doc="the scalar quantizer's drift audit, closing the audit symmetry "
    "(coarse quantizer: q231's churn; PQ residual codebook: q248's "
    "quantization error; int8 range: THIS): the persisted inverted "
    "file's codes column is read per arrival cohort (the standing "
    f"corpus vs the vec_id %% {_VEC_BATCH_MOD} == 0 arriving slice — "
    "q243's batch convention) and audited for SATURATION (fraction of "
    "codes pinned at +-127 — q68's +-4-sigma symmetric range clips "
    "silently, and a mean/scale shift in arriving embeddings turns "
    "into pinned codes and degraded quantized dots with no error "
    "anywhere) and range UTILIZATION (mean |code|; util_ratio is the "
    "arriving/standing contrast from exact integer sums — a ratio "
    "drifting from 1 says the fixed scale no longer matches the data "
    "and the q232/q236 admission ordering is quietly losing "
    "resolution). Exactness: codes are already integers, every "
    "statistic is an exact integer sum with one rounded division. "
    "Plan/scale: ONE codes-only scan of the persisted index "
    "(ReadSchema-prunable, no float column touched — the audit costs "
    "O(index), not O(corpus)), one partial-agg shuffle keyed by "
    "cohort, a 2-row join out. The oracle recomputes q68's "
    "quantization from the raw floats, so a stale or corrupted codes "
    "column fails the hash gate — the audit doubles as an index "
    "integrity check.",
)
def q254_sq8_clip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = ensure_ivf_index(spark, sf_dir)
    el = (
        spark.read.parquet(os.path.join(idx, "cand"))
        .select(
            "vec_id",
            F.when(F.col("vec_id") % _VEC_BATCH_MOD == 0, 1)
            .otherwise(0)
            .alias("ep"),
            F.explode(F.col("codes").cast("array<long>")).alias("code"),
        )
    )
    per = el.groupBy("ep").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_elems"),
        F.sum(F.when(F.abs(F.col("code")) == 127, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        F.sum(F.abs(F.col("code"))).cast("bigint").alias("sum_abs"),
    )
    s = per.filter(F.col("ep") == 0).select(
        F.col("n_vecs").alias("n_standing"),
        F.col("n_elems").alias("elems_standing"),
        F.col("n_clipped").alias("clipped_standing"),
        F.col("sum_abs").alias("sum_abs_s"),
    )
    a = per.filter(F.col("ep") == 1).select(
        F.col("n_vecs").alias("n_arrived"),
        F.col("n_elems").alias("elems_arrived"),
        F.col("n_clipped").alias("clipped_arrived"),
        F.col("sum_abs").alias("sum_abs_a"),
    )
    return s.crossJoin(F.broadcast(a)).select(
        "n_standing",
        "n_arrived",
        "elems_standing",
        "elems_arrived",
        "clipped_standing",
        "clipped_arrived",
        rnd(
            F.col("clipped_standing").cast("double") / F.col("elems_standing"),
            6,
        ).alias("clip_frac_standing"),
        rnd(
            F.col("clipped_arrived").cast("double") / F.col("elems_arrived"), 6
        ).alias("clip_frac_arrived"),
        rnd(
            F.col("sum_abs_s").cast("double") / F.col("elems_standing"), 6
        ).alias("util_standing"),
        rnd(
            F.col("sum_abs_a").cast("double") / F.col("elems_arrived"), 6
        ).alias("util_arrived"),
        rnd(
            (F.col("sum_abs_a") * F.col("elems_standing")).cast("double")
            / (F.col("sum_abs_s") * F.col("elems_arrived")).cast("double"),
            6,
        ).alias("util_ratio"),
    )


# ---------------------------------------------------------------------------
# q264 — the composed retrieval stack: persisted-IVF recall stage feeding
# the MMR diversity re-rank (q223's probe -> q262's greedy trajectory)
# ---------------------------------------------------------------------------


def _q264_oracle() -> str:
    from etl_entregas_pyspark_spark.queries.retrieval import (
        _MMR_COS,
        _MMR_FINAL_SQL,
        _MMR_POOL,
        _mmr_chain_ctes,
    )
    cos_pc = _MMR_COS.format(a="p.q_emb", b="c.embedding")
    ctes = [
        """cent AS MATERIALIZED (
        SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
        WHERE vec_id < 8)""",
        f"""cand AS MATERIALIZED (
        SELECT vec_id, embedding, centroid_id FROM (
            {_CAND_ASSIGN_SQL}
        ) WHERE rn = 1)""",
        f"""probes AS MATERIALIZED (
        SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
            {_PROBE_ASSIGN_SQL}
        ) WHERE rn <= {_NPROBE})""",
        f"""pool AS MATERIALIZED (
        SELECT query_id, neighbor_id, rel, c_emb FROM (
            SELECT query_id, neighbor_id, rel, c_emb,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, neighbor_id) AS rn
            FROM (
                SELECT p.query_id, c.vec_id AS neighbor_id,
                       {cos_pc} AS rel, c.embedding AS c_emb
                FROM probes p JOIN cand c ON p.centroid_id = c.centroid_id))
        WHERE rn <= {_MMR_POOL})""",
    ] + _mmr_chain_ctes()
    return "WITH " + ",\n    ".join(ctes) + _MMR_FINAL_SQL


def _register_q264() -> None:
    from etl_entregas_pyspark_spark.queries.retrieval import (
        _MMR_K,
        _MMR_LAM,
        _MMR_POOL,
        mmr_greedy,
    )

    @register(
        "q264_ivf_mmr_stack",
        _q264_oracle(),
        doc=f"the composed production retrieval stack: ANN recall stage "
        f"-> diversity re-rank. Stage 1 is q223's persisted-IVF probe "
        f"(queries assign against the SAVED centroids, nprobe={_NPROBE} "
        f"partition-pruned bucket reads — ~nprobe/C of the corpus "
        f"scanned) widened to a top-{_MMR_POOL} relevance pool; stage 2 "
        f"is q262's greedy MMR trajectory ({_MMR_K} picks maximizing "
        f"{_MMR_LAM}*rel - {round(1 - _MMR_LAM, 10)}*max-sim-to-picked) "
        "run by the SAME mmr_greedy function and replayed by the SAME "
        "generated CTE chain — one definition of the trajectory across "
        "both registrations, so this query proves the two stages "
        "compose without re-deriving either. At 100 TB this is the "
        "actual serving shape: the index bounds the scan, the re-rank "
        "operates on pool-sized state, and the diversity pass can "
        "never touch more than nprobe buckets' worth of candidates. "
        "Both engines pay the same double arithmetic end-to-end "
        "(the q51 exact-doubles convention).",
    )
    def q264_ivf_mmr_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = ensure_ivf_index(spark, sf_dir)
        cent = spark.read.parquet(os.path.join(idx, "centroids"))
        e = T(spark, sf_dir, "embeddings")
        probes = probe_batch(e, cent, _NPROBE).localCheckpoint()
        cand = spark.read.parquet(os.path.join(idx, "cand")).filter(
            open_buckets(probes)
        )
        pool = (
            topk(
                cand.join(F.broadcast(probes), "centroid_id").select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    cosine().alias("rel"),
                    F.col("embedding").alias("c_emb"),
                ),
                _MMR_POOL,
                score="rel",
                rank="rn",
            )
            .drop("rn")
            .localCheckpoint()
        )
        return mmr_greedy(pool)


_register_q264()
