"""Recall tests for the ANN scale path vs the exact brute-force kernel."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from airflow_etl_finance_market_spark.sources.readers import load_fixture

QUERIES = [0, 1, 2, 3, 4]


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_fixture(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, QUERIES, k=5).collect()
    approx = cosine_topk_lsh(emb, QUERIES, k=5, multiprobe=True).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # multiprobe hyperplane LSH on random data: expect moderate recall,
    # and the harness would flag a silent regression to ~0
    assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"
    # scores must be true cosines: every overlapping pair agrees exactly
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cosine_sim"] - exact_scores[key]) < 1e-9


def test_bruteforce_excludes_self_and_ranks(spark, sf_dir):
    emb = load_fixture(spark, sf_dir, "embeddings")
    rows = cosine_topk_bruteforce(emb, QUERIES, k=5).collect()
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sims = [x["cosine_sim"] for x in sorted(rs, key=lambda x: x["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from airflow_etl_finance_market_spark.operators.similarity import cosine_topk_ivf

    emb = load_fixture(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, QUERIES, k=5).collect()
    approx = cosine_topk_ivf(emb, QUERIES, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"
    # scores are true cosines: overlapping pairs agree exactly
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cosine_sim"] - exact_scores[key]) < 1e-9


def test_lsh_prebuilt_index_matches_inline(spark, sf_dir):
    """index= (the persisted/amortized path) must be a pure optimization:
    bit-identical results to the inline build."""
    from airflow_etl_finance_market_spark.operators.similarity import lsh_index

    emb = load_fixture(spark, sf_dir, "embeddings")
    inline = cosine_topk_lsh(emb, QUERIES, k=5).collect()
    idx = lsh_index(emb).persist()
    try:
        idx.count()
        with_idx = cosine_topk_lsh(emb, QUERIES, k=5, index=idx).collect()
    finally:
        idx.unpersist()
    assert sorted(map(tuple, with_idx), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )


def test_ivf_prebuilt_index_matches_inline(spark, sf_dir):
    from airflow_etl_finance_market_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_index,
    )

    emb = load_fixture(spark, sf_dir, "embeddings")
    inline = cosine_topk_ivf(emb, QUERIES, k=5).collect()
    centroids, frame = ivf_index(emb)
    frame = frame.persist()
    try:
        frame.count()
        with_idx = cosine_topk_ivf(
            emb, QUERIES, k=5, index=(centroids, frame)
        ).collect()
    finally:
        frame.unpersist()
    assert sorted(map(tuple, with_idx), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )


def test_assign_cells_matches_expression_form(spark, sf_dir):
    """The codegen explode+aggregate assignment (corpus path) must agree
    with the single-expression HOF twin on every vector."""
    from airflow_etl_finance_market_spark.operators.similarity import (
        _ivf_centroids,
        assign_cells_frame,
        nearest_centroid_col,
    )
    from pyspark.sql import functions as F

    emb = load_fixture(spark, sf_dir, "embeddings").limit(200)
    centroids = _ivf_centroids(
        emb, nlist=8, id_col="vec_id", vec_col="embedding", iterations=1
    )
    agg_form = {
        r["id"]: r["_cell"]
        for r in assign_cells_frame(emb, centroids).collect()
    }
    expr_form = {
        r["vec_id"]: r["_cell"]
        for r in emb.select(
            "vec_id",
            nearest_centroid_col(F.col("embedding"), centroids).alias("_cell"),
        ).collect()
    }
    assert agg_form == expr_form


class TestQuantization:
    def test_reconstruction_error_bound(self, spark, sf_dir):
        from airflow_etl_finance_market_spark.operators.similarity import (
            dequantize_embeddings,
            quantize_embeddings,
        )
        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        qdf = quantize_embeddings(emb)
        # int8 range respected
        rng = qdf.select(
            F.array_max("qvec").alias("hi"), F.array_min("qvec").alias("lo")
        ).agg(F.max("hi"), F.min("lo")).first()
        assert rng[0] <= 127 and rng[1] >= -127
        # reconstruction within scale/2 per component
        recon = dequantize_embeddings(qdf)
        pair = (
            emb.join(recon, "vec_id")
            .join(qdf.select("vec_id", "scale"), "vec_id")
            .select(
                F.array_max(
                    F.zip_with(
                        "embedding",
                        "vec",
                        lambda a, b: F.abs(a.cast("double") - b),
                    )
                ).alias("maxerr"),
                "scale",
            )
            .filter(F.col("maxerr") > F.col("scale") / 2 + 1e-12)
        )
        assert pair.count() == 0

    def test_zero_vector_safe(self, spark):
        from airflow_etl_finance_market_spark.operators.similarity import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [1.0, -2.0])],
            "vec_id long, embedding array<float>",
        )
        rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
        assert rows[1].qvec == [0, 0] and rows[1].scale == 0.0
        assert rows[2].qvec == [64, -127]


class TestRealPngCodec:
    """The stdlib PNG codec that stays with the report charts
    (``plans/charts``): ``encode_png`` writes, ``decode_png`` reads the
    pixels back with a full scanline unfilter."""

    def test_roundtrip_all_channel_counts(self):
        import numpy as np

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(3)
        for ch in (1, 3, 4):
            w, h = 5, 4
            pix = rng.integers(0, 256, (h, w, ch), np.uint8)
            assert decode_png(encode_png(pix)) == (w, h, ch, pix.tobytes())

    def test_unfilters_every_filter_type(self):
        """Hand-filter one row with each of the spec's 5 filter types and
        check reconstruction against the unfiltered reference — a real
        decoder property no header sniff can fake."""
        import random
        import struct
        import zlib

        from airflow_etl_finance_market_spark.plans.charts import decode_png

        w, h, ch = 4, 5, 3
        rng = random.Random(9)
        pix = [
            [rng.randrange(256) for _ in range(w * ch)] for _ in range(h)
        ]

        def filt(y, ftype):
            cur = pix[y]
            prev = pix[y - 1] if y else [0] * (w * ch)
            out = [ftype]
            for i, x in enumerate(cur):
                a = cur[i - ch] if i >= ch else 0
                b_ = prev[i]
                c = prev[i - ch] if i >= ch else 0
                if ftype == 0:
                    out.append(x)
                elif ftype == 1:
                    out.append((x - a) & 255)
                elif ftype == 2:
                    out.append((x - b_) & 255)
                elif ftype == 3:
                    out.append((x - (a + b_) // 2) & 255)
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                    out.append((x - pr) & 255)
            return bytes(out)

        raw = b"".join(filt(y, y % 5) for y in range(h))

        def chunk(t, d):
            body = t + d
            return (
                struct.pack(">I", len(d))
                + body
                + struct.pack(">I", zlib.crc32(body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        flat = bytes(v for row in pix for v in row)
        assert decode_png(png) == (w, h, ch, flat)

    def test_decodes_charts_encoder_output(self):
        """The chart encoder's PNGs read back pixel-exact (tEXt chunks
        and all get skipped properly)."""
        import numpy as np

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        rgb = np.zeros((6, 7, 3), np.uint8)
        rgb[..., 0] = 10
        rgb[2, 3] = [1, 2, 3]
        b = encode_png(rgb, text_meta={"title": "t"})
        assert decode_png(b) == (7, 6, 3, rgb.tobytes())

    def test_truncated_idat_raises_value_error(self):
        """A truncated-but-VALID-ZLIB IDAT (a writer that lost rows) must
        raise ValueError, not escape as IndexError from the unfilter
        loop."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + typ
                + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        w, h, ch = 4, 4, 3
        good = encode_png(np.zeros((h, w, ch), np.uint8))
        ihdr = good[16:29]  # reuse the real 13-byte IHDR payload
        short_raw = bytes(3 * (w * ch + 1))  # 3 of the 4 declared rows
        bad = (
            good[:8]
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(short_raw))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="truncated PNG pixel data"):
            decode_png(bad)


class TestProductQuantization:
    """PQ + exact refine: the memory-bounded ANN tier."""

    def test_recall_and_exact_scores_vs_bruteforce(self, spark, sf_dir):
        from airflow_etl_finance_market_spark.operators.similarity import (
            cosine_topk_pq,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        exact = cosine_topk_bruteforce(emb, QUERIES, k=5).collect()
        approx = cosine_topk_pq(emb, QUERIES, k=5).collect()
        exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.6, f"PQ recall collapsed: {recall:.2f}"
        # the refine step re-ranks on RAW vectors with the same cosine
        # kernel, so overlapping pairs' scores are bit-equal
        exact_map = {
            (r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact
        }
        for r in approx:
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_map:
                assert r["cosine_sim"] == exact_map[key]

    def test_codes_compress_and_are_deterministic(self, spark, sf_dir):
        from airflow_etl_finance_market_spark.operators.similarity import (
            pq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        books, codes = pq_index(emb, m=16, ksub=16)
        assert len(books) == 16 and all(len(cb) <= 16 for cb in books)
        rows = codes.collect()
        assert all(len(r.codes) == 16 for r in rows)
        assert all(0 <= c < 16 for r in rows for c in r.codes)
        # pure function of (corpus, params): a rebuild over a different
        # physical layout yields identical codes
        _, codes2 = pq_index(emb.repartition(7), m=16, ksub=16)
        a = {r.id: tuple(r.codes) for r in rows}
        b = {r.id: tuple(r.codes) for r in codes2.collect()}
        assert a == b

    def test_unrefined_adc_is_the_scale_scan(self, spark, sf_dir):
        """The ADC candidate stage must scan CODES (no raw vector column
        in the scored frame) — the whole point of the compression."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            pq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        _, codes = pq_index(emb)
        assert set(codes.columns) == {"id", "norm", "codes"}

    def test_arrow_encoder_matches_sql_reference(self, spark, sf_dir):
        """The vectorized Arrow encoder must agree with the pure-Catalyst
        reference encoder code-for-code on the fixture corpus (both are
        deterministic L2 argmins over the same codebooks)."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            pq_codebooks,
            pq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        books = pq_codebooks(emb)
        _, sql_codes = pq_index(emb, codebooks=books, encoder="sql")
        _, arw_codes = pq_index(emb, codebooks=books, encoder="arrow")
        a = {r.id: tuple(r.codes) for r in sql_codes.collect()}
        b = {r.id: tuple(r.codes) for r in arw_codes.collect()}
        assert a == b

    def test_ivfpq_composition_recall_and_exact_scores(self, spark, sf_dir):
        """IVF pruning + PQ codes + exact refine: recall above the floor
        and bit-equal overlap scores — the FAISS IVFPQ recipe composed
        from the two audited quantizers."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            cosine_topk_ivfpq,
            ivfpq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        cents, books, frame = ivfpq_index(emb)
        assert set(frame.columns) == {"id", "norm", "codes", "_cell"}
        approx = cosine_topk_ivfpq(
            emb, QUERIES, k=5, index=(cents, books, frame)
        ).collect()
        exact = cosine_topk_bruteforce(emb, QUERIES, k=5).collect()
        exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.3, f"IVFPQ recall collapsed: {recall:.2f}"
        exact_map = {
            (r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact
        }
        for r in approx:
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_map:
                assert r["cosine_sim"] == exact_map[key]

    def test_arrow_encoder_supports_non_long_ids(self, spark, sf_dir):
        """The Arrow encoder's output schema derives the id type from the
        input — a string id corpus must encode, not fail at Arrow
        conversion."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            pq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings").select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"),
            "embedding",
        )
        _, codes = pq_index(emb, m=16, ksub=16)
        rows = codes.limit(5).collect()
        assert all(isinstance(r.id, str) and r.id.startswith("v") for r in rows)

    def test_empty_corpus_yields_empty_index(self, spark, sf_dir):
        """Degenerate-data posture (r05 ADVICE): an EMPTY corpus must
        produce an empty index with the contract schema from BOTH
        encoders (and through the IVF∘PQ composition), never a per-task
        IndexError on codebooks[0]."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            ivfpq_index,
            pq_index,
        )

        empty = load_fixture(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 0
        )
        for enc in ("arrow", "sql"):
            books, codes = pq_index(empty, encoder=enc)
            assert books == []
            assert codes.columns == ["id", "norm", "codes"]
            assert codes.count() == 0
        cents, books, frame = ivfpq_index(empty)
        assert cents == [] and books == []
        assert frame.columns == ["id", "norm", "codes", "_cell"]
        assert frame.count() == 0

    def test_ivfpq_build_is_single_corpus_pass(self, spark, sf_dir):
        """Cells and codes must be stamped in ONE map-only Arrow stage:
        no join in the build plan, exactly one Python worker stage."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            ivfpq_index,
        )

        emb = load_fixture(spark, sf_dir, "embeddings")
        _, _, frame = ivfpq_index(emb)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("MapInPandas") == 1


class TestSemanticDedup:
    def test_planted_semantic_clusters_and_survivors(self, spark):
        """SemDeDup composition (cosine pairs -> CC -> canonical): two
        planted semantic groups inside one label block, one singleton in
        another block. Identical/near-identical directions cluster, the
        orthogonal vector stays alone, the min-id is canonical."""
        from airflow_etl_finance_market_spark.operators.graph import (
            dedup_clusters,
        )
        from airflow_etl_finance_market_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        def vec(*nonzero):
            v = [0.0] * 8
            for i, x in nonzero:
                v[i] = x
            return v

        rows = [
            # group A (label 0): same direction, different scales
            (1, 0, vec((0, 1.0))),
            (2, 0, vec((0, 2.0))),
            # chained member: close to 2, still transitively in A
            (3, 0, vec((0, 1.0), (1, 0.2))),
            # group B (label 0): orthogonal to A
            (4, 0, vec((2, 1.0))),
            # other label block: never pairs with label 0
            (5, 1, vec((0, 1.0))),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        pairs = embedding_near_dup_pairs(emb, threshold=0.9)
        out = {
            r.vec_id: (r.cluster_id, r.is_canonical, r.cluster_size)
            for r in dedup_clusters(emb, pairs, id_col="vec_id").collect()
        }
        assert out[1] == (1, True, 3)
        assert out[2] == (1, False, 3)
        assert out[3] == (1, False, 3)
        assert out[4] == (4, True, 1)
        assert out[5] == (5, True, 1)
        # filter(is_canonical) IS the deduplicated corpus
        assert sorted(k for k, v in out.items() if v[1]) == [1, 4, 5]


class TestBitextMarginMining:
    """Margin-based bitext mining (r15, Artetxe & Schwenk ratio margin):
    python reference differential, hub demotion, mutual mode."""

    @staticmethod
    def _ref(A, B, k=2, threshold=1.0, mutual=False):
        """Pure-python replay of the documented pipeline: ROUND-6 cosines,
        k-NN averages with id tiebreaks, rounded margins, best-per-src."""
        import math

        def cos(u, v):
            d = sum(x * y for x, y in zip(u, v))
            nu = math.sqrt(sum(x * x for x in u))
            nv = math.sqrt(sum(x * x for x in v))
            return round(d / (nu * nv), 6) if nu and nv else None

        pairs = {
            (i, j): cos(u, v) for i, u in A.items() for j, v in B.items()
        }
        def knn_avg(keyed, side):
            out = {}
            for key in keyed:
                if side == "src":
                    cand = sorted(
                        ((pairs[(key, j)], j) for j in B),
                        key=lambda t: (-t[0], t[1]),
                    )[:k]
                else:
                    cand = sorted(
                        ((pairs[(i, key)], i) for i in A),
                        key=lambda t: (-t[0], t[1]),
                    )[:k]
                # ROUND-6 pinned like the operator: the average is a
                # float sum whose order isn't pinned engine-side
                out[key] = round(sum(c for c, _ in cand) / len(cand), 6)
            return out

        aa, bb = knn_avg(A, "src"), knn_avg(B, "tgt")
        margins = {
            (i, j): round(c / ((aa[i] + bb[j]) / 2), 6)
            for (i, j), c in pairs.items()
        }
        best = {}
        for i in A:
            j = min(B, key=lambda j: (-margins[(i, j)], j))
            if margins[(i, j)] >= threshold:
                best[(i, j)] = (pairs[(i, j)], margins[(i, j)])
        if mutual:
            bwd = {
                j: min(A, key=lambda i: (-margins[(i, j)], i)) for j in B
            }
            best = {
                (i, j): v for (i, j), v in best.items() if bwd[j] == i
            }
        return best

    # side A: three distinct directions; side B: near-copies of the
    # first two plus a HUB vector moderately close to everything
    A = {
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.0, 0.0],
        3: [0.0, 0.0, 1.0, 0.0],
    }
    B = {
        10: [0.9, 0.1, 0.0, 0.0],   # near A1
        20: [0.1, 0.9, 0.0, 0.0],   # near A2
        99: [0.5, 0.5, 0.5, 0.5],   # hub: cos ~0.5 to everything
    }

    def _frames(self, spark):
        mk = lambda d: spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in d.items()],
            "vec_id long, embedding array<double>",
        )
        return mk(self.A), mk(self.B)

    def test_matches_python_reference(self, spark):
        from airflow_etl_finance_market_spark.operators.similarity import (
            bitext_margin_mining,
        )

        src, tgt = self._frames(spark)
        got = {
            (r.src_id, r.tgt_id): (r.cos_sim, r.margin_score)
            for r in bitext_margin_mining(
                src, tgt, k=2, threshold=0.0
            ).collect()
        }
        ref = self._ref(self.A, self.B, k=2, threshold=0.0)
        assert set(got) == set(ref)
        for p in ref:
            assert abs(got[p][0] - ref[p][0]) <= 1e-6
            assert abs(got[p][1] - ref[p][1]) <= 1e-6

    def test_margin_demotes_the_hub(self, spark):
        """A3 has no true translation: its best raw COSINE is the hub
        (0.5 vs ~0 for the others), but the hub's high neighborhood
        average deflates the margin below the aligned pairs' — the
        exact failure of raw-cosine mining the criterion fixes."""
        from airflow_etl_finance_market_spark.operators.similarity import (
            bitext_margin_mining,
        )

        src, tgt = self._frames(spark)
        rows = {
            r.src_id: r
            for r in bitext_margin_mining(
                src, tgt, k=2, threshold=0.0
            ).collect()
        }
        # aligned pairs win their sources
        assert rows[1].tgt_id == 10 and rows[2].tgt_id == 20
        # the hub pair's margin sits below the aligned pairs' margins
        assert rows[3].tgt_id == 99
        assert rows[3].margin_score < rows[1].margin_score
        assert rows[3].margin_score < rows[2].margin_score
        # a threshold between them mines ONLY the aligned pairs
        cut = (rows[3].margin_score + min(
            rows[1].margin_score, rows[2].margin_score
        )) / 2
        mined = {
            (r.src_id, r.tgt_id)
            for r in bitext_margin_mining(
                src, tgt, k=2, threshold=cut
            ).collect()
        }
        assert mined == {(1, 10), (2, 20)}

    def test_mutual_mode_matches_reference(self, spark):
        from airflow_etl_finance_market_spark.operators.similarity import (
            bitext_margin_mining,
        )

        src, tgt = self._frames(spark)
        got = {
            (r.src_id, r.tgt_id)
            for r in bitext_margin_mining(
                src, tgt, k=2, threshold=0.0, mutual=True
            ).collect()
        }
        ref = set(self._ref(self.A, self.B, k=2, threshold=0.0, mutual=True))
        assert got == ref
        # mutual is a subset of forward
        fwd = {
            (r.src_id, r.tgt_id)
            for r in bitext_margin_mining(
                src, tgt, k=2, threshold=0.0
            ).collect()
        }
        assert got <= fwd

    def test_candidates_restrict_scoring(self, spark):
        from airflow_etl_finance_market_spark.operators.similarity import (
            bitext_margin_mining,
        )

        src, tgt = self._frames(spark)
        cands = spark.createDataFrame(
            [(1, 10), (1, 99), (2, 20), (3, 99)],
            "src_id long, tgt_id long",
        )
        rows = bitext_margin_mining(
            src, tgt, k=2, threshold=0.0, candidates=cands
        ).collect()
        assert {(r.src_id, r.tgt_id) for r in rows} <= {
            (1, 10), (1, 99), (2, 20), (3, 99)
        }
        assert {r.src_id for r in rows} == {1, 2, 3}
