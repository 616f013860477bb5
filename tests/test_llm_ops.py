"""Quality assertions for the non-oracle operators: dedup recall and
approximate-NN recall against exact ground truth (sf0.001, deterministic
data + deterministic hash families ⇒ stable numbers)."""

import pytest
from pyspark.sql import functions as F

from steampipe_sqlite_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from steampipe_sqlite_spark.operators.similarity import brute_force_topk, lsh_topk
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_exact_dedup_partitions_corpus(docs):
    groups = dedup_exact(docs, "text", "doc_id").collect()
    assert sum(g.group_size for g in groups) == docs.count()
    assert all(g.group_size >= 1 for g in groups)


def test_minhash_lsh_recall_vs_exact_jaccard(docs):
    """Every exact word-3gram-Jaccard ≥ 0.5 pair must surface through the
    banded-minhash candidate path (measured recall 1.0 on this corpus)."""
    blocked = docs.withColumn("one", F.lit(1))
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            blocked, "text", "doc_id", ["one"], n=3, threshold=0.5
        ).collect()
    }
    assert truth, "fixture should contain near-duplicate documents"
    found = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"minhash LSH recall {recall:.2f} < 0.9"


def test_simhash_finds_injected_exact_duplicates(docs):
    """Identical texts hash to identical fingerprints (hamming 0), so
    injected copies (doc_id + 10000) must all pair with their originals."""
    sample = docs.filter(F.col("doc_id") < 50)
    copies = sample.withColumn("doc_id", F.col("doc_id") + 10000)
    pairs = simhash_pairs(sample.unionByName(copies), "text", "doc_id", max_hamming=8)
    found = {
        (r.id_a, r.id_b) for r in pairs.filter(F.col("hamming") == 0).collect()
    }
    expected = {(r.doc_id, r.doc_id + 10000) for r in sample.collect()}
    assert expected <= found


def test_lsh_topk_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    found = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            emb, queries, "embedding", "vec_id", k=5, n_planes=3, n_tables=12
        ).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"ANN recall@5 {recall:.2f} < 0.9"


def test_int8_topk_recall_vs_brute_force(emb):
    """int8 quantization keeps ~7 bits of per-dim precision — the top-5
    neighbor sets should survive nearly intact (measured 1.0 here)."""
    from steampipe_sqlite_spark.operators.similarity import int8_topk

    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    found = {
        (r.query_id, r.neighbor_id)
        for r in int8_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"int8 recall@5 {recall:.2f} < 0.9"


def test_quantize_int8_range_and_peak(emb):
    """Quantized values stay in [-127, 127] and every vector's max |q|
    is exactly 127 (symmetric scaling hits the peak)."""
    from steampipe_sqlite_spark.functions.vectors import quantize_int8

    q = emb.limit(50).select(quantize_int8(F.col("embedding")).alias("qv"))
    stats = q.select(
        F.min(F.array_min("qv")).alias("lo"),
        F.max(F.array_max("qv")).alias("hi"),
        F.min(F.array_max(F.transform("qv", lambda x: F.abs(x)))).alias("min_peak"),
    ).first()
    assert stats.lo >= -127 and stats.hi <= 127
    assert stats.min_peak == 127


def test_brute_force_topk_is_exactly_k_ranked(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    rows = brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    for qid, nbrs in per_query.items():
        assert sorted(r.rank for r in nbrs) == [1, 2, 3, 4, 5]
        by_rank = sorted(nbrs, key=lambda r: r.rank)
        cosines = [r.cosine for r in by_rank]
        assert cosines == sorted(cosines, reverse=True)


def test_blas_topk_equals_brute_force_exactly(emb):
    from steampipe_sqlite_spark.operators.similarity import blas_topk

    queries = emb.filter(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in blas_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    # bit-identical after 4-dp rounding: neighbor ids AND cosine values
    assert got == want


def test_blas_topk_rejects_oversized_query_batch(spark, emb, monkeypatch):
    """The driver-materialized query batch has a HARD cap (VERDICT r6 #6):
    cap+1 rows must raise, not silently collect a corpus onto the driver.
    The cap is monkeypatched down so the test stays fixture-sized."""
    import steampipe_sqlite_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "MAX_QUERY_BATCH", 3)
    queries = emb.filter(F.col("vec_id") < 4)  # cap + 1 rows
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        sim.blas_topk(emb, queries, "embedding", "vec_id", k=5)
    # at the cap it still works
    monkeypatch.setattr(sim, "MAX_QUERY_BATCH", 4)
    assert sim.blas_topk(emb, queries, "embedding", "vec_id", k=2).count() == 8


def test_hll_estimate_accuracy(spark):
    """The deterministic HLL must land within the standard error envelope
    (~1.04/sqrt(1024) ≈ 3.3%; allow 3σ) of the exact distinct count."""
    from steampipe_sqlite_spark.functions.sketches import hll_distinct
    from steampipe_sqlite_spark.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    exact = events.select("user_id").distinct().count()
    est = hll_distinct(events.select("user_id"), "user_id", p=10).first().n_distinct_est
    assert abs(est - exact) / exact < 0.10, f"HLL {est} vs exact {exact}"


def test_hist_quantiles_within_one_bucket_width(spark):
    """The 64-bin histogram estimate must land within one bucket width of
    the exact percentile (the sketch's error bound under any data
    distribution), at every requested quantile."""
    from steampipe_sqlite_spark.functions.sketches import hist_quantiles
    from steampipe_sqlite_spark.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    est = {r.q: r.est for r in hist_quantiles(orders, "o_totalprice", bins=64, qs=qs).collect()}
    lo, hi = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    width = (hi - lo) / 64.0
    exact = orders.agg(
        *[F.expr(f"percentile(o_totalprice, {q})").alias(f"p{i}") for i, q in enumerate(qs)]
    ).first()
    for i, q in enumerate(qs):
        assert abs(est[q] - exact[i]) <= width + 1e-9, (
            f"q={q}: est {est[q]} vs exact {exact[i]} (width {width})"
        )


def test_bloom_no_false_negatives_and_prefilters(spark):
    """Bloom contract: every inserted value passes the membership test
    (no false negatives — what makes the pre-filter exact after
    re-verification), and non-members are mostly screened out map-side."""
    from steampipe_sqlite_spark.functions.sketches import (
        bloom_bitmap,
        bloom_might_contain,
    )

    members = spark.range(0, 300).selectExpr("concat('member_', id) AS g")
    bitmap = bloom_bitmap(members, "g", m_bits=8192, k=3)
    assert members.filter(bloom_might_contain(bitmap, "g", 8192, 3)).count() == 300
    others = spark.range(0, 5000).selectExpr("concat('other_', id) AS g")
    fp = others.filter(bloom_might_contain(bitmap, "g", 8192, 3)).count()
    # m/n ≈ 27 bits per item, k=3 → FP rate well under 5%
    assert fp < 250, f"false-positive rate too high: {fp}/5000"


def test_hll_per_group_accuracy(spark):
    """Grouped HLL: each group's estimate within 10% of its exact distinct
    count (same envelope as the global sketch)."""
    from steampipe_sqlite_spark.functions.sketches import hll_distinct
    from steampipe_sqlite_spark.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    est = {
        r.event_type: r.n_distinct_est
        for r in hll_distinct(
            events.select("event_type", "user_id"), "user_id", p=10,
            group_cols=["event_type"],
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] < 0.10, (k, est[k], exact[k])


def test_frequent_terms_exact_on_head_terms(spark):
    """Misra–Gries heavy hitters: with capacity far below the distinct
    count, the recounted top-k still matches the exact answer as long as
    head terms clear the n/capacity bar — proven here on a skewed synthetic
    (Zipf-ish head over 5000 distinct tail terms, capacity 64)."""
    from steampipe_sqlite_spark.functions.sketches import frequent_terms

    # 10 head terms with 500..950 occurrences each + 5000 singleton tails
    head = spark.range(0, 10).selectExpr(
        "explode(transform(sequence(1, 500 + cast(id AS INT) * 50), x -> concat('head_', id))) AS term"
    )
    tail = spark.range(0, 5000).selectExpr("concat('tail_', id) AS term")
    data = head.union(tail).repartition(8)

    got = frequent_terms(data, "term", k=10, capacity=64).orderBy("rank").collect()
    exact = (
        data.groupBy("term").count()
        .orderBy(F.desc("count"), F.asc("term"))
        .limit(10)
        .collect()
    )
    assert [(r.term, r.cnt) for r in got] == [(r.term, r["count"]) for r in exact]


def test_frequent_terms_candidate_stage_is_bounded(spark):
    """The summary stage must emit at most `capacity` candidate rows per
    partition — the property that bounds the shuffle at scale.  Re-runs
    the same Misra–Gries summary frequent_terms uses and counts its rows
    against the partitions × capacity ceiling."""
    import pandas as pd

    cap = 32
    data = spark.range(0, 20000).selectExpr("concat('t_', id % 7000) AS term").repartition(4)

    def mg(batches):
        counts = {}
        for pdf in batches:
            for term, c in pdf["term"].value_counts().items():
                counts[term] = counts.get(term, 0) + int(c)
            if len(counts) > cap:
                thr = sorted(counts.values(), reverse=True)[cap]
                counts = {t: c - thr for t, c in counts.items() if c > thr}
        yield pd.DataFrame({"term": list(counts.keys())})

    n_cand = data.mapInPandas(mg, "term string").count()
    assert n_cand <= 4 * cap, n_cand


def test_chunk_sliding_invariants(spark):
    """Chunker invariants on real documents: stride spacing, window cap,
    full coverage (last chunk reaches the final token), and overlap
    consistency (chunk i's tail tokens reappear at chunk i+1's head)."""
    from steampipe_sqlite_spark.functions.text import chunk_sliding, tokens
    from steampipe_sqlite_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    W, S = 32, 24
    chunks = chunk_sliding(docs, "text", "doc_id", window=W, stride=S)
    stats = (
        chunks.groupBy("doc_id")
        .agg(
            F.max("chunk_idx").alias("last_idx"),
            F.max("n_tokens").alias("max_n"),
            F.min("n_tokens").alias("min_n"),
            F.sum("n_tokens").alias("sum_n"),
        )
        .collect()
    )
    n_tok = {
        r.doc_id: r.n
        for r in docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n")).collect()
    }
    for r in stats:
        n = n_tok[r.doc_id]
        expected_chunks = 1 + (max(n - W, 0) + S - 1) // S
        assert r.last_idx == expected_chunks - 1, (r.doc_id, n)
        assert r.max_n <= W
        # coverage: total chunk tokens = n + overlap duplicates
        overlap_total = sum(
            max(0, min(i * S + W, n) - (i + 1) * S)
            for i in range(expected_chunks - 1)
        )
        assert r.sum_n == n + overlap_total, (r.doc_id, n, r.sum_n, overlap_total)


def test_cdc_chunks_detect_shared_paragraph_and_survive_insertion(spark):
    """CDC property: a paragraph shared by two otherwise-different documents
    yields identical chunk fingerprints in both; and because breakpoints
    are content-defined, prepending text to a document leaves the shared
    paragraph's interior chunks unchanged (the offset-shift that defeats
    fixed-size chunking)."""
    from steampipe_sqlite_spark.operators.dedup import cdc_chunk_fingerprints

    shared = "the quick brown fox jumps over the lazy dog " * 20
    a = "alpha preamble text here " * 10 + shared + " alpha epilogue " * 5
    b = "completely different beta opening words " * 12 + shared + " beta end"
    b_shifted = "EXTRA INSERTED PREFIX " + b
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, b_shifted)], "doc_id long, text string"
    )
    chunks = cdc_chunk_fingerprints(df, "text", "doc_id", k=8, divisor=64)
    fps = {
        i: {r.chunk_fp for r in rows}
        for i, rows in [
            (i, [r for r in chunks.collect() if r.id == i]) for i in (1, 2, 3)
        ]
    }
    assert fps[1] & fps[2], "shared paragraph must produce shared chunk fps"
    # content-defined: most of doc 2's chunks survive the prefix insertion
    overlap = len(fps[2] & fps[3]) / len(fps[2])
    assert overlap >= 0.5, f"insertion destroyed {1-overlap:.0%} of chunks"


class TestExactSubstrings:
    """duplicated_span_stats on hand-built docs with known shared spans."""

    def _stats(self, spark, rows):
        from steampipe_sqlite_spark.operators.dedup import duplicated_span_stats

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = duplicated_span_stats(df, "text", "doc_id", k=20)
        return {r.id: r for r in out.collect()}

    def test_shared_span_detected_and_merged(self, spark):
        shared = "the quick brown fox jumps over the lazy dog near the river bank"
        rows = [
            (1, f"alpha unique opener {shared} and a distinct alpha tail here"),
            (2, f"totally different beta start {shared} beta closing words now"),
            (3, "no overlap with anything else in this tiny corpus at all ok"),
        ]
        got = self._stats(spark, rows)
        # docs 1 and 2 share one contiguous region -> exactly one merged
        # span each, no row for doc 3
        assert set(got) == {1, 2}
        for d in (1, 2):
            assert got[d].n_dup_spans == 1
            # the merged span covers at least the shared sentence
            assert got[d].dup_chars >= len(shared)
            assert got[d].dup_chars < got[d].total_chars

    def test_two_disjoint_spans_stay_separate(self, spark):
        a = "first common fragment shared by the pair of documents here"
        b = "second common fragment also repeated across both documents yes"
        rows = [
            (1, f"{a} xxxxxxxx unique middle padding words yyyyyyyy {b}"),
            (2, f"{b} qqqqqqqq other middle zzzzzzzz {a}"),
        ]
        got = self._stats(spark, rows)
        assert got[1].n_dup_spans == 2
        assert got[2].n_dup_spans == 2

    def test_short_docs_no_false_positives(self, spark):
        # below the gram width k=20 nothing can match
        rows = [(1, "tiny text"), (2, "tiny text")]
        from steampipe_sqlite_spark.operators.dedup import duplicated_span_stats

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        # k-gram of a 9-char doc is the whole (padded) prefix; identical
        # docs DO share it -> spans equal the full doc
        got = {r.id: r for r in duplicated_span_stats(df, "text", "doc_id", k=20).collect()}
        assert set(got) == {1, 2}
        assert got[1].dup_chars == got[1].total_chars


def test_leakage_safe_split_never_splits_a_component(spark, docs):
    """The property the per-component gate exists for: every near-dup
    component lands wholly inside ONE split."""
    from steampipe_sqlite_spark.operators.dedup import ngram_jaccard_pairs
    from steampipe_sqlite_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], n=3, threshold=0.3
    )
    comps = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=docs.select(F.col("doc_id").alias("node")),
    ).selectExpr("node AS doc_id", "component AS component_id")
    gate = (
        "cast(conv(substring(md5(cast(component_id AS string)), 1, 15), 16, 10)"
        " as bigint) % 100"
    )
    splits = comps.selectExpr(
        "component_id",
        f"CASE WHEN {gate} < 80 THEN 'train'"
        f" WHEN {gate} < 90 THEN 'val' ELSE 'test' END AS split",
    )
    spanning = (
        splits.groupBy("component_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where("n_splits > 1")
        .count()
    )
    assert spanning == 0


class TestEnsureIndexCache:
    """The corpus index witnesses' build-once copy (derived.ensure):
    content-keyed, published by atomic rename, rebuilt when torn, and
    superseded generations of the same family reclaimed in two phases."""

    def test_directory_source_staleness_detected(self, tmp_path):
        """Directory-shaped fixtures (Spark-written tables): rewriting a
        part file in place changes the file's mtime but NOT the
        directory's — the identity must fingerprint the recursive
        listing, or the index key keeps serving a stale generation."""
        import os

        from steampipe_sqlite_spark.derived import source_identity

        d = tmp_path / "embeddings.parquet"
        (d / "sub").mkdir(parents=True)
        for rel in ("part-00000.parquet", "sub/part-00001.parquet"):
            (d / rel).write_bytes(b"x" * 64)
        before = source_identity(str(d))
        dir_mtime = os.stat(d).st_mtime_ns
        part = d / "sub" / "part-00001.parquet"
        st = os.stat(part)
        os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        assert os.stat(d).st_mtime_ns == dir_mtime
        assert source_identity(str(d)) != before
        # a plain file keys on its own size and mtime
        f = tmp_path / "flat.parquet"
        f.write_bytes(b"y" * 8)
        flat = source_identity(str(f))
        assert source_identity(str(f)) == flat
        f.write_bytes(b"y" * 9)
        assert source_identity(str(f)) != flat

    def test_torn_deletion_rebuilds_and_generations_reclaim(
        self, spark, monkeypatch, tmp_path
    ):
        import os
        import shutil

        from steampipe_sqlite_spark import derived
        from steampipe_sqlite_spark.tables import load_table

        monkeypatch.setattr(derived, "ROOT", str(tmp_path))
        calls = []
        emb = load_table(spark, SF_DIR, "embeddings")

        def build(p):
            calls.append(p)
            from steampipe_sqlite_spark.operators.similarity import ivf_build_index

            ivf_build_index(emb, "embedding", "vec_id", p, n_cells=4)

        def ensure():
            return derived.ensure(
                "indexes", os.path.join(SF_DIR, "embeddings.parquet"), build,
                "testivf", parts=("centroids", "cells"),
            )

        path = ensure()
        assert len(calls) == 1
        # unchanged fixture: second ensure skips the rebuild
        assert ensure() == path
        assert len(calls) == 1
        # a torn deletion must trigger a REBUILD, not a permanent
        # PATH_NOT_FOUND
        shutil.rmtree(os.path.join(path, "cells"))
        assert ensure() == path
        assert len(calls) == 2
        assert os.path.isdir(os.path.join(path, "cells"))
        # a superseded generation of the SAME family is reclaimed in TWO
        # phases (readers take no lock, so the first sighting only
        # tombstones; files go when the tombstone outlives the grace
        # period)...
        root = os.path.dirname(path)
        fake = path.rsplit("-", 1)[0] + "-deadbeef0000"
        os.makedirs(os.path.join(fake, "cells"))
        # ...while a DIFFERENT family (another fixture path) is live
        other = os.path.join(root, "embeddings.parquet-testivf-ffffffff-aaaaaaaaaaaa")
        os.makedirs(other)
        ensure()
        # phase 1: tombstoned, files intact — an in-flight scan over the
        # old generation still completes during the grace window
        tomb = os.path.join(fake, "_superseded")
        assert os.path.exists(tomb)
        assert os.path.isdir(os.path.join(fake, "cells"))
        # within-grace re-ensure: still intact
        ensure()
        assert os.path.exists(fake)
        # phase 2: grace elapsed -> next ensure reclaims the files
        monkeypatch.setattr(derived, "RECLAIM_GRACE_S", 0.0)
        ensure()
        assert not os.path.exists(fake)
        assert os.path.exists(other)
        assert not os.path.exists(os.path.join(other, "_superseded"))
        # resurrection: a tombstone landing on the LIVE generation (fixture
        # reverted to old content) is cleared by ensure, so a later sweep
        # can't reclaim an index being served
        open(os.path.join(path, "_superseded"), "w").close()
        ensure()
        assert not os.path.exists(os.path.join(path, "_superseded"))
        assert len(calls) == 2  # no spurious rebuilds along the way
        assert sorted(os.listdir(root)) == sorted(
            os.path.basename(p) for p in (path, other)
        )


class TestIvfIndexPersistence:
    """Build-once/query-many IVF lifecycle: persisted index must answer
    exactly like the direct operator, through a partition-pruned scan."""

    def test_index_roundtrip_equals_direct(self, spark, emb, tmp_path):
        from steampipe_sqlite_spark.operators.similarity import (
            ivf_build_index,
            ivf_query_index,
            ivf_topk,
        )

        path = str(tmp_path / "ivf")
        ivf_build_index(emb, "embedding", "vec_id", path, n_cells=16)
        queries = emb.filter("vec_id < 10")
        direct = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in ivf_topk(emb, queries, "embedding", "vec_id", k=5).collect()
        }
        via_index = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in ivf_query_index(
                spark, path, queries, "embedding", "vec_id", k=5
            ).collect()
        }
        assert via_index == direct
        assert len(direct) == 50

    def test_probe_scan_is_partition_pruned(self, spark, emb, tmp_path):
        from steampipe_sqlite_spark.operators.similarity import (
            ivf_build_index,
            ivf_query_index,
        )

        path = str(tmp_path / "ivf")
        ivf_build_index(emb, "embedding", "vec_id", path, n_cells=16)
        queries = emb.filter("vec_id < 3")
        plan = (
            ivf_query_index(spark, path, queries, "embedding", "vec_id", nprobe=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the cells scan must carry a PartitionFilters entry on `cell`
        # (hive pruning), not a post-scan Filter over all partitions
        assert "PartitionFilters:" in plan, plan[:2000]
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf and "IN" in pf.upper(), pf


class TestProductQuantization:
    """PQ ADC + exact re-rank (similarity.pq_topk/pq_topk_rerank)."""

    def test_rerank_recall_and_contract(self, spark):
        from steampipe_sqlite_spark.operators.similarity import (
            brute_force_topk,
            pq_topk_rerank,
        )
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        got = pq_topk_rerank(
            emb, queries, "embedding", "vec_id", k=5, shortlist=100
        ).collect()
        # contract: exactly k ranked rows per query, ranks 1..k
        per_q = {}
        for r in got:
            per_q.setdefault(r.query_id, []).append(r.rank)
        assert len(per_q) == 10
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
        # the exact re-rank stage means every returned cosine is the TRUE
        # cosine: spot-check against brute force scores for shared pairs
        bf = brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
        bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
        pq_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in got}
        shared = set(bf_scores) & set(pq_pairs)
        assert len(shared) / len(bf_scores) >= 0.7, "recall@5 below 0.7"
        assert all(bf_scores[p] == pq_pairs[p] for p in shared), (
            "re-ranked cosine differs from the exact path"
        )

    def test_codebooks_are_metadata_sized(self, spark):
        from steampipe_sqlite_spark.operators.similarity import pq_codebooks
        from steampipe_sqlite_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        books = pq_codebooks(emb, "embedding", "vec_id", m=4, codebook=16).collect()
        # m * codebook rows max (cells can die, never multiply), 16-wide
        assert len(books) <= 4 * 16
        assert all(len(r.cv) == 16 for r in books)
        assert all(0 <= r.m < 4 for r in books)

    def test_batched_trainer_matches_declarative_chain(self, spark):
        """The r15 grouped-pandas Lloyd trainer must return BIT-IDENTICAL
        books to the old per-iteration _pq_assign/_pq_update chain it
        replaced (same init, same 4-dp rounding via Spark's shortest-
        string HALF_UP, same integer-nano means, same sequential cc fold,
        same dense renumbering) — the unrolled-CTE oracle replays the old
        chain, so any drift here is an oracle red."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from steampipe_sqlite_spark.operators.similarity import (
            _pq_assign,
            _pq_subvectors,
            _pq_update,
            pq_codebooks,
        )
        from steampipe_sqlite_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        m, codebook, dim, iters = 4, 16, 64, 2
        d_sub = dim // m
        sub = _pq_subvectors(emb, "embedding", "vec_id", m, d_sub)
        cent = sub.filter(F.col("id") < codebook).selectExpr(
            "m", "id AS cid", "sv AS cv", "svv AS cc"
        )
        assigned = _pq_assign(sub, cent)
        for _ in range(iters - 1):
            assigned = _pq_assign(sub, _pq_update(assigned, d_sub))
        old = (
            _pq_update(assigned, d_sub)
            .withColumn(
                "cid",
                F.row_number().over(Window.partitionBy("m").orderBy("cid")) - 1,
            )
            .collect()
        )
        new = pq_codebooks(
            emb, "embedding", "vec_id", m=m, codebook=codebook, dim=dim, iters=iters
        ).collect()
        key = lambda r: (r.m, r.cid)  # noqa: E731
        old_map = {key(r): (list(r.cv), r.cc) for r in old}
        new_map = {key(r): (list(r.cv), r.cc) for r in new}
        assert old_map.keys() == new_map.keys()
        for k in old_map:
            assert old_map[k] == new_map[k], f"books differ at {k}"

    def test_maponly_encode_matches_exploded_assign(self, spark):
        """The r15 map-only `_pq_encode` (broadcast codebook array +
        per-subspace expression argmin, zero corpus shuffles) must emit
        the same codes as the reference `_pq_assign(sub, books)` +
        id-grouped re-pack it replaced — same 4-dp d2 rounding, same
        lowest-cid tie-break."""
        from pyspark.sql import functions as F

        from steampipe_sqlite_spark.operators.similarity import (
            _pq_assign,
            _pq_encode,
            _pq_subvectors,
            pq_codebooks,
        )
        from steampipe_sqlite_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        m, d_sub = 4, 16
        books = pq_codebooks(emb, "embedding", "vec_id", m=m, codebook=16)
        old = {
            r.id: list(r.codes)
            for r in _pq_assign(
                _pq_subvectors(emb, "embedding", "vec_id", m, d_sub), books
            )
            .groupBy("id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(m, cell))), s -> s.cell)"
                ).alias("codes")
            )
            .collect()
        }
        new = {
            r.id: list(r.codes)
            for r in _pq_encode(
                emb.selectExpr("vec_id AS id", "embedding AS v"), books, m, d_sub
            ).collect()
        }
        assert old == new

    def test_adc_shortlist_is_deterministic(self, spark):
        from steampipe_sqlite_spark.operators.similarity import pq_topk
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        a = sorted(map(tuple, pq_topk(emb, queries, "embedding", "vec_id", k=10).collect()))
        b = sorted(map(tuple, pq_topk(emb, queries, "embedding", "vec_id", k=10).collect()))
        assert a == b and len(a) == 100


class TestMmrSelect:
    def test_contract_and_determinism(self, spark):
        from steampipe_sqlite_spark.operators.similarity import mmr_select
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        a = sorted(map(tuple, mmr_select(emb, queries, "embedding", "vec_id").collect()))
        b = sorted(map(tuple, mmr_select(emb, queries, "embedding", "vec_id").collect()))
        assert a == b
        per_q = {}
        for qid, step, doc, score in a:
            per_q.setdefault(qid, []).append((step, doc))
        assert len(per_q) == 5
        for picks in per_q.values():
            steps = [s for s, _ in sorted(picks)]
            docs = [d for _, d in sorted(picks)]
            assert steps == [1, 2, 3, 4, 5]
            assert len(set(docs)) == 5  # no repeats

    def test_penalizes_redundancy(self, spark):
        """Two exact-duplicate near neighbors: plain top-k returns both;
        MMR must not pick the duplicate second (its sim-to-selected is 1.0,
        so its marginal score collapses)."""
        from steampipe_sqlite_spark.operators.similarity import mmr_select

        # equal relevance everywhere (cos to q = 0.7071) so selection is
        # driven purely by the redundancy penalty: the duplicate of the
        # first pick has sim 1.0 (marginal score collapses), the
        # alternatives overlap the first pick in only one dimension
        # (sim 0.5)
        q = [1.0, 0.0, 0.0, 0.0]
        rows = [
            (0, q),                      # the query itself
            (1, [0.7, 0.7, 0.0, 0.0]),   # first pick (id tie-break)
            (2, [0.7, 0.7, 0.0, 0.0]),   # exact duplicate of 1
            (3, [0.7, 0.0, 0.7, 0.0]),   # diverse alternative
            (4, [0.7, 0.0, 0.0, 0.7]),   # diverse alternative
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.filter("vec_id = 0")
        got = mmr_select(df, queries, "embedding", "vec_id", k=3, pool=4).collect()
        picked = [r.doc_id for r in sorted(got, key=lambda r: r.step)]
        assert picked[0] == 1  # most relevant first (id tie-break vs 2)
        assert picked[1] != 2, "MMR picked the exact duplicate second"


class TestIvfPqIndexPersistence:
    """Persisted IVF-PQ index: cell-pruned, column-pruned, refine-exact."""

    @pytest.fixture(scope="class")
    def idx(self, spark, tmp_path_factory):
        from steampipe_sqlite_spark.operators.similarity import ivfpq_build_index
        from steampipe_sqlite_spark.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        path = str(tmp_path_factory.mktemp("ivfpq")) + "/idx"
        ivfpq_build_index(emb, "embedding", "vec_id", path, n_cells=8)
        return path

    def test_full_probe_equals_direct_pq_rerank(self, spark, idx):
        """nprobe = n_cells makes the ADC candidate set the whole corpus,
        so index-then-query must equal the direct PQ pipeline EXACTLY
        (same codebooks contract, same rounding, same tie-breaks)."""
        from steampipe_sqlite_spark.operators.similarity import (
            ivfpq_query_index,
            pq_topk_rerank,
        )
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        via_index = ivfpq_query_index(
            spark, idx, queries, "embedding", "vec_id", k=5, nprobe=8, shortlist=50
        ).collect()
        direct = pq_topk_rerank(
            emb, queries, "embedding", "vec_id", k=5, shortlist=50
        ).collect()
        assert sorted(map(tuple, via_index)) == sorted(map(tuple, direct))

    def test_adc_scan_is_cell_and_column_pruned(self, spark, idx):
        """The ADC pass must show BOTH pruning axes in the plan: hive
        PartitionFilters on cell (nprobe directories only) and a
        ReadSchema WITHOUT the vector column (codes+nrm only)."""
        from steampipe_sqlite_spark.operators.similarity import ivfpq_query_index
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 3)
        plan = (
            ivfpq_query_index(spark, idx, queries, "embedding", "vec_id", k=5, nprobe=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [cell" in plan.replace("PartitionFilters: [ cell", "PartitionFilters: [cell") or "cell#" in plan.split("PartitionFilters")[1][:200], plan[:800]
        # find the ADC scan: a FileScan over the index whose schema has codes but not v
        adc_scans = [
            ln for ln in plan.splitlines()
            if "ReadSchema" in ln and "codes" in ln and "v:array" not in ln
        ]
        assert adc_scans, "no column-pruned ADC scan (codes without v) in plan"

    def test_partial_probe_recall(self, spark, idx):
        from steampipe_sqlite_spark.operators.similarity import (
            brute_force_topk,
            ivfpq_query_index,
        )
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_query_index(
                spark, idx, queries, "embedding", "vec_id", k=5, nprobe=2, shortlist=50
            ).collect()
        }
        bf = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, "embedding", "vec_id", k=5).collect()
        }
        assert len(bf & got) / len(bf) >= 0.5

    def test_sparse_id_build_then_full_probe_is_exact(self, spark, tmp_path_factory):
        """Build-path invariant on a sparse-id corpus: index only the
        even-vec_id half (its first n_cells ids are {0, 2}, and the PQ
        init ids are even), then a full-probe query with shortlist >= the
        half must equal exact brute force over the half — the ADC stage
        only generates candidates, the refine stage is exact, so with
        nothing pruned the index adds no error.  Pins both renumberings
        of the build: centroids saved by position, dense codeword ids."""
        from steampipe_sqlite_spark.operators.similarity import (
            brute_force_topk,
            ivfpq_build_index,
            ivfpq_query_index,
        )
        from steampipe_sqlite_spark.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        half = emb.filter("vec_id % 2 = 0")
        path = str(tmp_path_factory.mktemp("ivfpq_sparse")) + "/idx"
        ivfpq_build_index(half, "embedding", "vec_id", path, n_cells=4)
        queries = half.filter(F.col("vec_id") < 10)
        got = ivfpq_query_index(
            spark, path, queries, "embedding", "vec_id",
            k=5, nprobe=4, shortlist=half.count(),
        ).collect()
        bf = brute_force_topk(half, queries, "embedding", "vec_id", k=5).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, bf))

    def test_single_candidate_pool_still_emits_step1(self, spark):
        """A 2-vector corpus leaves each query exactly ONE candidate and
        zero candidate pairs — the step-1 pick must still be emitted
        (review r5: the inner-join pair build dropped such queries)."""
        from steampipe_sqlite_spark.operators.similarity import mmr_select

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        got = mmr_select(df, df.filter("vec_id = 0"), "embedding", "vec_id", k=3, pool=5).collect()
        assert len(got) == 1
        assert (got[0].query_id, got[0].step, got[0].doc_id) == (0, 1, 1)


def test_ivf_topk_handles_sparse_init_ids(spark):
    """ivf_topk with a corpus whose ids < n_cells are sparse (even ids
    only): cell labels are argmax POSITIONS, so the probe side must label
    positionally too — full probe must equal brute force exactly (review
    r5: the raw-id probe labeling missed half the index)."""
    from steampipe_sqlite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from steampipe_sqlite_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    even = emb.filter("vec_id % 2 = 0")
    queries = even.filter(F.col("vec_id") < 10)
    got = ivf_topk(even, queries, "embedding", "vec_id", k=5, n_cells=4, nprobe=4).collect()
    bf = brute_force_topk(even, queries, "embedding", "vec_id", k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, bf))


def test_ppjoin_prefix_shrinks_candidates_losslessly(spark):
    """The prefix filter's two claims: (a) candidate pairs are a strict
    subset of the all-shared-tokens candidates, (b) nothing above the
    threshold is lost (the oracle also proves (b) cross-engine)."""
    from steampipe_sqlite_spark.functions.text import normalize_sql
    from steampipe_sqlite_spark.operators.dedup import ppjoin_pairs
    from steampipe_sqlite_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    norm = normalize_sql("text")
    elems = (
        f"array_distinct(transform(sequence(1, greatest(size(split({norm}, ' ')) - 1, 1)),"
        f" i -> array_join(slice(split({norm}, ' '), i, 2), ' ')))"
    )
    toks = docs.selectExpr("doc_id AS id", f"explode({elems}) AS tok")
    a, b = toks.alias("a"), toks.alias("b")
    brute_cands = (
        a.join(b, "tok")
        .where("a.id < b.id")
        .selectExpr("a.id AS ia", "b.id AS ib")
        .distinct()
        .count()
    )
    # the operator's own prefix-candidate set, recomputed: rank tokens by
    # global (df, tok), keep r <= n - ceil(0.7 n) + 1, join on prefix toks
    from pyspark.sql import functions as F

    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(freq, "tok")
        .selectExpr("id", "tok", "row_number() OVER (PARTITION BY id ORDER BY df, tok) AS r")
        .join(sizes, "id")
        .where("r <= n - ((90 * n + 99) div 100) + 1")
    )
    ra, rb = ranked.alias("ra"), ranked.alias("rb")
    prefix_cands = (
        ra.join(rb, "tok").where("ra.id < rb.id")
        .selectExpr("ra.id AS ia", "rb.id AS ib").distinct().count()
    )
    got = ppjoin_pairs(docs, "text", "doc_id", threshold_pct=90, shingle=2).collect()
    # exactness: every surviving pair verifies the integer threshold
    for r in got:
        assert 100 * r.n_common >= 90 * (r.n_a + r.n_b - r.n_common)
    # efficiency: at t=0.9 the prefix is ~10% of each set, so the filter
    # verifies far fewer candidates than the all-shared-tokens join (at
    # the corpus query's looser t=0.7 the reduction is ~2x — the prefix
    # length, and with it the filtering power, scales with the threshold)
    assert prefix_cands * 5 < brute_cands, (prefix_cands, brute_cands)
    # losslessness floor: candidates cover every surviving pair
    assert len(got) <= prefix_cands


def test_ppjoin_hot_token_candidates_bounded(spark):
    """Prefix-token skew guard (VERDICT r5 #5): a token shared by EVERY
    document ("hot") must not blow up the candidate join.  Fixture: 200
    docs = "hot" + i%20 unique fillers, so sizes span 1..20 and only the
    ten single-token docs carry "hot" in their prefix (fillers are rarer,
    so they fill every longer doc's prefix); the length filter then kills
    any 1-vs-n pair at t=0.7.  Candidates collapse to C(10,2)=45 — all
    TRUE matches (identical {hot} sets) — versus 19900 all-pairs through
    the hot key."""
    from pyspark.sql import functions as F

    from steampipe_sqlite_spark.operators.dedup import ppjoin_pairs

    rows = [
        (i, "hot " + " ".join(f"f{i}x{j}" for j in range(i % 20)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = ppjoin_pairs(docs, "text", "doc_id", threshold_pct=70).collect()
    singles = sorted(i for i in range(200) if i % 20 == 0)
    expected = {
        (a, b) for ai, a in enumerate(singles) for b in singles[ai + 1:]
    }
    assert {(r.id_a, r.id_b) for r in got} == expected
    assert len(got) == 45
    # candidate bound: replicate the operator's prefix-candidate stage and
    # pin that the hot key contributes only the 10 single-token docs
    norm_toks = docs.selectExpr(
        "doc_id AS id", "explode(array_distinct(split(text, ' '))) AS tok"
    ).where("tok <> ''")
    sizes = norm_toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    freq = norm_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        norm_toks.join(freq, "tok")
        .selectExpr(
            "id", "tok",
            "row_number() OVER (PARTITION BY id ORDER BY df, tok) AS r",
        )
        .join(sizes, "id")
        .where("r <= n - ((70 * n + 99) div 100) + 1")
    )
    ra, rb = ranked.alias("ra"), ranked.alias("rb")
    cands = (
        ra.join(
            rb,
            (F.col("ra.tok") == F.col("rb.tok"))
            & (F.col("ra.id") < F.col("rb.id"))
            & (F.lit(100) * F.least("ra.n", "rb.n")
               >= F.lit(70) * F.greatest("ra.n", "rb.n")),
        )
        .selectExpr("ra.id AS ia", "rb.id AS ib")
        .distinct()
        .count()
    )
    assert cands == 45, f"hot-token skew leaked {cands} candidates (bound 45)"


class TestCountMinSketch:
    def test_never_undercounts_any_token(self, spark):
        from steampipe_sqlite_spark.functions.sketches import cms_build, cms_estimate
        from steampipe_sqlite_spark.functions.text import normalize_sql
        from steampipe_sqlite_spark.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        toks = docs.selectExpr(
            f"explode(split({normalize_sql('text')}, ' ')) AS tok"
        )
        sketch = cms_build(toks, "tok")
        exact = toks.groupBy("tok").count()
        est = cms_estimate(sketch, exact.select(F.col("tok").alias("value")), "value")
        joined = est.join(exact, est.value == exact.tok).selectExpr(
            "value", "est", "count AS exact_n"
        )
        bad = joined.where("est < exact_n").count()
        assert bad == 0, "CMS undercounted — impossible by construction"

    def test_absent_value_estimates_zero(self, spark):
        """ADVICE r5: a probe absent from the stream must return est=0
        (its cells may be empty → absent from the sparse sketch relation;
        the LEFT join + coalesce keeps that zero evidence), and a tiny
        stream must leave enough empty cells that the min over rows
        tightens to 0 rather than inheriting collision counts."""
        from steampipe_sqlite_spark.functions.sketches import cms_build, cms_estimate

        df = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
        sketch = cms_build(df, "tok")
        probes = spark.createDataFrame(
            [("a",), ("b",), ("never-seen",)], "value string"
        )
        got = {r.value: r.est for r in cms_estimate(sketch, probes, "value").collect()}
        assert got["never-seen"] == 0, got
        assert got["a"] >= 2 and got["b"] >= 1
        # 3 probes in, 3 estimates out — nothing silently dropped
        assert len(got) == 3

    def test_merged_halves_equal_whole(self, spark):
        """The mergeability contract: sketch(A) + sketch(B) folded per
        cell (union, then SUM per (row, pos)) equals sketch(A ∪ B)
        exactly — counts are linear."""
        from steampipe_sqlite_spark.functions.sketches import cms_build
        from steampipe_sqlite_spark.functions.text import normalize_sql
        from steampipe_sqlite_spark.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        toks = lambda d: d.selectExpr(  # noqa: E731
            f"explode(split({normalize_sql('text')}, ' ')) AS tok"
        )
        whole = cms_build(toks(docs), "tok")
        merged = (
            cms_build(toks(docs.where("doc_id % 2 = 0")), "tok")
            .unionByName(cms_build(toks(docs.where("doc_id % 2 = 1")), "tok"))
            .groupBy("row", "pos")
            .agg(F.sum("c").cast("long").alias("c"))
        )
        assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_kmv_jaccard_accuracy_and_merge_property(spark):
    """KMV estimates must land near exact Jaccard (k=128 → ~1/sqrt(k)
    error), and kmv(A ∪ B) must equal the k smallest of sig(A) ∪ sig(B)
    — the re-min mergeability that makes the sketch composable."""
    from steampipe_sqlite_spark.functions.sketches import (
        kmv_pairwise_jaccard,
        kmv_signatures,
    )
    from steampipe_sqlite_spark.functions.text import normalize_sql
    from steampipe_sqlite_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    norm = normalize_sql("text")
    bigrams = docs.selectExpr("source", f"split({norm}, ' ') AS w").selectExpr(
        "source",
        "explode(transform(sequence(1, greatest(size(w) - 1, 1)),"
        " i -> array_join(slice(w, i, 2), ' '))) AS tok",
    )
    sig = kmv_signatures(bigrams, "tok", "source", k=128)
    est = {(r.ga, r.gb): r.n_both / r.n_used for r in kmv_pairwise_jaccard(sig, 128).collect()}
    sets: dict = {}
    for r in bigrams.distinct().collect():
        sets.setdefault(r.source, set()).add(r.tok)
    errs = []
    for (ga, gb), e in est.items():
        exact = len(sets[ga] & sets[gb]) / len(sets[ga] | sets[gb])
        errs.append(abs(e - exact))
    assert sum(errs) / len(errs) < 0.06, f"mean error {sum(errs)/len(errs):.3f}"
    assert max(errs) < 0.2, f"max error {max(errs):.3f}"

    # mergeability: union-then-sketch == sketch-union-then-re-min
    merged_direct = kmv_signatures(
        bigrams.where("source IN ('src0', 'src1')").selectExpr("'u' AS source", "tok"),
        "tok", "source", k=128,
    )
    from pyspark.sql import functions as F
    re_min = (
        sig.where("grp IN ('src0', 'src1')")
        .select("h").distinct()
        .selectExpr("h", "row_number() OVER (ORDER BY h) AS r")
        .where("r <= 128").select("h")
    )
    assert sorted(r.h for r in merged_direct.collect()) == sorted(
        r.h for r in re_min.collect()
    )


class TestSoftDedupWeights:
    def test_weights_match_python(self, spark):
        import re

        import pandas as pd

        from steampipe_sqlite_spark.plans.registry import collect

        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

        def norm(text: str) -> str:
            t = re.sub(r"[^a-z0-9一-鿿 ]", " ", text.lower())
            return re.sub(r"\s+", " ", t).strip()

        sizes = docs.text.map(norm).value_counts()
        want = {
            r.doc_id: sizes[norm(r.text)] for r in docs.itertuples()
        }
        q, _ = collect()
        rows = q["dedup_soft_weights"](spark, SF_DIR).collect()
        assert len(rows) == len(docs)
        for r in rows:
            assert r.cluster_size == want[r.doc_id]
            assert r.weight_ppm == 1_000_000 // r.cluster_size
        # every cluster contributes ~1 doc of expected mass (ppm floor)
        assert all(r.weight_ppm * r.cluster_size <= 1_000_000 for r in rows)


class TestBitextMarginPairs:
    def test_margin_matches_python(self, spark):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        from steampipe_sqlite_spark.plans.registry import collect

        emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        lang = dict(zip(docs.doc_id, docs.lang))

        def seq_dot(a, b):  # sequential fold — the SQL aggregate's order
            s = 0.0
            for x, y in zip(a, b):
                s += float(x) * float(y)
            return s

        vecs = {r.vec_id: list(r.embedding) for r in emb.itertuples()}

        def cu(a, b):  # ROUND(cos, 4) then ×10000 — both HALF_UP doubles
            c = seq_dot(a, b) / (seq_dot(a, a) ** 0.5 * seq_dot(b, b) ** 0.5)
            c4 = float(Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
            return int(Decimal(repr(c4 * 10000)).quantize(Decimal("1"), ROUND_HALF_UP))

        src = sorted(i for i in vecs if lang.get(i) == "en" and i < 20)
        tgt = sorted(i for i in vecs if lang.get(i) == "de")
        pairs = {(q_, t): cu(vecs[q_], vecs[t]) for q_ in src for t in tgt}
        K = 4
        want = {}
        for q_ in src:
            by_t = sorted(tgt, key=lambda t: (-pairs[(q_, t)], t))
            best = by_t[0]
            sx = sum(pairs[(q_, t)] for t in by_t[:K])
            by_q = sorted(src, key=lambda s: (-pairs[(s, best)], s))
            sy = sum(pairs[(s, best)] for s in by_q[:K])
            c = pairs[(q_, best)]
            margin = (
                (2 * K * c * 1_000_000) // (sx + sy)
                if c >= 0 and sx + sy > 0
                else None
            )
            want[q_] = (best, c, margin)
        q, _ = collect()
        rows = q["bitext_margin_pairs"](spark, SF_DIR).collect()
        assert {r.query_id for r in rows} == set(src)
        for r in rows:
            best, c, margin = want[r.query_id]
            assert (r.match_id, r.cos_u, r.margin_ppm) == (best, c, margin)


class TestDedupKeepBest:
    def test_canonical_is_longest_per_component(self, spark):
        import pandas as pd

        from steampipe_sqlite_spark.plans.registry import collect

        q, _ = collect()
        comps = {
            r.doc_id: r.component_id
            for r in q["dedup_components"](spark, SF_DIR).collect()
        }
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        chars = dict(zip(docs.doc_id, docs.n_chars))
        want = {}
        for doc, comp in comps.items():
            cur = want.get(comp)
            key = (-chars[doc], doc)
            if cur is None or key < (-chars[cur[0]], cur[0]):
                want[comp] = (doc, 0)
        sizes = {}
        for comp in comps.values():
            sizes[comp] = sizes.get(comp, 0) + 1
        rows = q["dedup_keep_best"](spark, SF_DIR).collect()
        assert len(rows) == len(want)
        for r in rows:
            assert r.kept_doc_id == want[r.component_id][0]
            assert r.component_size == sizes[r.component_id]
            assert r.n_dropped == r.component_size - 1
            assert r.kept_n_chars == chars[r.kept_doc_id]
