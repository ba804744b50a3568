"""Tests for the training-data operator suite: multimodal binary
plumbing and spot checks of the new relational operators (full oracle
equality runs in scripts/selfcheck.py and the driver's CORRECTNESS
gate)."""

import pytest

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# Multimodal binary columns
# --------------------------------------------------------------------------

def test_fake_payload_roundtrip():
    from dragnet_spark.multimodal import MAGIC, _decode_fimg, fake_payload
    for doc_id in (0, 1, 7, 123, 499):
        p = fake_payload(doc_id)
        assert p[:4] == MAGIC
        w, h, nf, mean = _decode_fimg(p)
        assert w == 64 + (doc_id * 7) % 192
        assert h == 64 + (doc_id * 13) % 128
        assert nf == 1 + doc_id % 8
        assert mean == float((doc_id * 31) % 251)
        assert len(p) == 9 + nf * 16


def test_media_features_spark(spark):
    from dragnet_spark.multimodal import q_media_features
    feats = q_media_features(spark, SF).orderBy("doc_id").limit(5).collect()
    assert len(feats) == 5
    for r in feats:
        assert r.width == 64 + (r.doc_id * 7) % 192
        assert r.aspect_micro == (r.width * 1_000_000) // r.height
        assert r.mean_byte == float((r.doc_id * 31) % 251)


def test_decode_with_library_is_stubbed():
    from dragnet_spark.multimodal import decode_with_library
    with pytest.raises(NotImplementedError):
        decode_with_library(b"\x89PNG....")


# --------------------------------------------------------------------------
# New relational operators: smoke + invariants
# --------------------------------------------------------------------------

def test_simhash_is_16_bit(spark):
    from dragnet_spark.queries import q_dedup_simhash
    import pyspark.sql.functions as F
    r = (q_dedup_simhash(spark, SF)
         .agg(F.min("simhash"), F.max("simhash"), F.count(F.lit(1)))
         .collect()[0])
    assert 0 <= r[0] and r[1] < 65536 and r[2] == 500


def test_lang_id_predicts_from_markers(spark):
    from dragnet_spark.queries import _LANG_ORDER, q_lang_id
    rows = q_lang_id(spark, SF).limit(50).collect()
    for r in rows:
        scores = {lg: r[f"score_{lg}"] for lg in _LANG_ORDER}
        best = max(scores.values())
        expect = next(lg for lg in _LANG_ORDER if scores[lg] == best)
        assert r.predicted_lang == expect


def test_ivf_probes_single_cell(spark):
    """The merged IVF relation: the 'single' branch probes exactly the
    query's cell; the 'multi' branch widens to the Hamming-1 probe set
    and therefore dominates (its top-5 cosine floor >= single's)."""
    from dragnet_spark.queries import q_ann_ivf_topk
    rows = q_ann_ivf_topk(spark, SF).collect()
    single = [r for r in rows if r.probe_mode == "single"]
    multi = [r for r in rows if r.probe_mode == "multi"]
    assert 0 < len(single) <= 5 and 0 < len(multi) <= 5
    assert len({r.cell for r in single}) == 1
    probed = {r.cell for r in multi}
    qcell = next(iter({r.cell for r in single}))
    assert all(bin(int(c) ^ int(qcell)).count("1") <= 1 for c in probed)
    for part in (single, multi):
        sims = [r.cos_sim for r in part]
        assert sims == sorted(sims, reverse=True)
    assert min(r.cos_sim for r in multi) >= min(r.cos_sim for r in single)


# --------------------------------------------------------------------------
# IO layer: Iceberg detection + parquet fallback
# --------------------------------------------------------------------------

def test_io_parquet_roundtrip(spark, tmp_path):
    from dragnet_spark.io import read_documents, write_documents
    src = read_documents(spark, f"{SF}/documents.parquet")
    write_documents(src.limit(5), str(tmp_path / "docs.parquet"),
                    mode="overwrite")
    back = read_documents(spark, str(tmp_path / "docs.parquet"))
    assert back.count() == 5
    assert back.columns == src.columns


def test_write_timeseries_partitioned_prunes(spark, tmp_path):
    """S9's file-scale sink: timeseries rows written partitionBy(dm)
    produce one directory per DM trial, and a single-DM read (the
    common fold/search access pattern) is partition-pruned to that one
    directory's files."""
    from pyspark.sql import functions as F

    from dragnet_spark.generate import make_corpus, scenario_configs
    from dragnet_spark.io import write_timeseries_partitioned
    from dragnet_spark.pipeline import docs_to_df, run_pipeline

    docs = make_corpus("tiny")
    cfg = scenario_configs("tiny")["s0"]
    rows = run_pipeline(docs_to_df(spark, docs), cfg, None)
    out = str(tmp_path / "perdm")
    write_timeseries_partitioned(rows, out)

    dirs = sorted(p.name for p in (tmp_path / "perdm").iterdir()
                  if p.name.startswith("dm="))
    assert len(dirs) == 11 and "dm=25.000" in dirs   # DM 0..50 step 5

    back = spark.read.parquet(out).where(F.col("dm") == "25.000")
    assert back.count() == len(docs)                 # one row per doc
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dm" in plan
    # row-group-level evidence: only the one partition's files are read
    scanned = {f for f in back.withColumn(
        "f", F.input_file_name()).select("f").distinct().toPandas()["f"]}
    assert scanned and all("dm=25.000" in f for f in scanned)


def test_partitioned_sink_dynamic_partition_pruning(spark, tmp_path):
    """The 100 TB access pattern the per-DM layout exists for: a JOIN
    against a small DM-metadata dim whose filter is only known at
    runtime must prune the fact scan to the matching partitions via
    DYNAMIC partition pruning (broadcast the filtered dim's keys into
    the fact scan's PartitionFilters) — not scan all 11 DM directories
    and filter after the fact."""
    from pyspark.sql import functions as F

    from dragnet_spark.generate import make_corpus, scenario_configs
    from dragnet_spark.io import write_timeseries_partitioned
    from dragnet_spark.pipeline import docs_to_df, run_pipeline

    docs = make_corpus("tiny")
    cfg = scenario_configs("tiny")["s0"]
    rows = run_pipeline(docs_to_df(spark, docs), cfg, None)
    out = str(tmp_path / "perdm_dpp")
    write_timeseries_partitioned(rows, out)

    # DM-trial metadata dim: which trials belong to the "high" band is
    # a dim-side fact the fact scan cannot know statically.  Keep the
    # partition column a STRING: type inference would read dm=25.000
    # back as double, and double join keys get wrapped in
    # knownfloatingpointnormalized(...), which defeats DPP's
    # partition-column matching.
    inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    saved = spark.conf.get(inf_key)
    try:
        spark.conf.set(inf_key, "false")
        fact = spark.read.parquet(out)
        dim = spark.createDataFrame(
            [(f"{dm:.3f}", "high" if dm >= 25 else "low")
             for dm in range(0, 51, 5)], "dm string, band string")
        # File evidence via the _metadata.file_path column, NOT
        # input_file_name(): the latter is non-deterministic, and a
        # non-deterministic projection between scan and join blocks
        # the DPP rewrite entirely (verified: PartitionFilters came
        # back empty with it).  The broadcast hint keeps the (tiny)
        # fact on the probe side, as it would be at real scale.
        joined = (fact.select("dm", "doc_id",
                              F.col("_metadata.file_path").alias("f"))
                  .join(F.broadcast(dim.where(F.col("band") == "high")),
                        "dm")
                  .select("dm", "doc_id", "f"))
        got = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(inf_key, saved)
    assert "dynamicpruningexpression" in plan, plan
    high = {f"{dm:.3f}" for dm in range(25, 51, 5)}
    assert {r.dm for r in got} == high
    assert len(got) == len(high) * len(docs)        # one row per doc/DM
    # runtime evidence: only the 6 high-band directories were read
    assert all(any(f"dm={h}" in r.f for h in high) for r in got)


def test_io_iceberg_missing_is_explicit(spark):
    from dragnet_spark.io import iceberg_available, read_documents
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        read_documents(spark, "table:lake.db.documents")


# --------------------------------------------------------------------------
# Banded-LSH near-dup: recall pinned against exact ground truth
# --------------------------------------------------------------------------

def test_embedding_near_dup_recall_pinned(spark):
    """The driver oracle generates the SAME candidates as the query, so
    it verifies implementation parity but cannot see recall loss (r2
    advice).  This pins recall against an EXACT all-pairs ground truth
    on the sf0.01 embeddings (500 x 64): every emitted pair must be a
    true cosine>=0.45 pair (precision 1.0 — exact cosine runs on the
    candidates), and the deterministic 4x8-band candidate generation
    must keep recovering its measured 3/14 pairs — if the banding or
    hyperplanes regress, this fails loudly instead of silently."""
    import numpy as np
    import pyarrow.parquet as pq

    from dragnet_spark.queries import q_embedding_near_dup

    sf = "/root/testdata/sf0.01"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    V = np.vstack(t["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(ids), 1)
    cs = C[iu]
    # exclude last-ulp threshold ambiguity between the numpy dot and
    # the query's sequential fold (none on this fixture, asserted)
    assert (np.abs(cs - 0.45) < 1e-9).sum() == 0
    qual = {(int(ids[i]), int(ids[j]))
            for i, j in zip(iu[0][cs >= 0.45], iu[1][cs >= 0.45])}
    assert len(qual) == 14                     # fixture ground truth

    got = {(r.vec_a, r.vec_b)
           for r in q_embedding_near_dup(spark, sf).collect()}
    assert got <= qual                         # precision 1.0
    assert len(got) == 3                       # pinned recall 3/14 (~0.21,
    # consistent with the 1-(1-p)^4 ~ 0.12 theory at this hard
    # s=0.45 setting; see the operator docstring for the knobs)


def test_embedding_near_dup_production_threshold_recall(spark):
    """The production near-dup configuration the operator docstring
    promises: at threshold s >= 0.9, where true duplicates sit near
    cos ~ 1 (planted twins at cos ~ 0.9997 here), the SAME 4x8 banded
    sign-LSH reaches recall >= 0.95 with precision 1.0 (r3 verdict:
    the only measured recall was 0.21 at the deliberately-hard 0.45
    setting — the production claim was theory).  Theory check:
    p_bit = 1 - theta/pi ~ 0.993 at theta ~ 0.02 rad, p_band =
    p_bit^8 ~ 0.95, recall = 1-(1-p_band)^4 ~ 1-7e-6."""
    import numpy as np
    from dragnet_spark.queries import embedding_near_dup_pairs

    rng = np.random.default_rng(4242)
    base = rng.normal(size=(80, 64))
    twins = base[:40] + 0.02 * rng.normal(size=(40, 64))
    V = np.vstack([base, twins]).astype(np.float64)
    ids = list(range(80)) + [1000 + i for i in range(40)]
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(ids), 1)
    # exact all-pairs ground truth; no pair sits near the threshold
    # (min margin 0.0997 on this fixture), so the numpy dot and the
    # query's sequential fold cannot disagree at the boundary
    assert np.abs(C[iu] - 0.9).min() > 1e-3
    qual = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i, j in zip(*iu) if C[i, j] >= 0.9}
    assert len(qual) == 40               # exactly the planted twins

    rows = [(int(ids[k]), [float(x) for x in V[k]])
            for k in range(len(ids))]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_a, r.vec_b)
           for r in embedding_near_dup_pairs(e, 0.9).collect()}
    assert got <= qual                   # precision 1.0
    recall = len(got & qual) / len(qual)
    assert recall >= 0.95, recall
    assert len(got) == 40                # pinned: 40/40 on this fixture


def test_connected_components_toy_graph(spark, tmp_path):
    """CC on a known graph: chain a-b-c-d (diameter 3), triangle
    e-f-g, pair h-i => three components labelled by their min vertex;
    convergence needs multiple rounds for the chain."""
    from dragnet_spark.queries import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),
         ("e", "f"), ("f", "g"), ("e", "g"),
         ("i", "h")], ["doc_a", "doc_b"])
    got = {(r.doc_id, r.component_id)
           for r in connected_components(
               edges, checkpoint_dir=str(tmp_path / "cc")).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("e", "e"), ("f", "e"), ("g", "e"),
                   ("h", "h"), ("i", "h")}
    # leak check: nothing this call cached may persist in the session
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().isEmpty()


def test_connected_components_nonconvergence_raises(spark, tmp_path):
    """Exhausting max_iters must RAISE, not return partial (wrong)
    labels (r3 advice).  The star rounds converge a 7-vertex path in 4
    rounds (incl. the stability-detection round), so 3 rounds must
    raise, and nothing cached may leak on the way out."""
    from dragnet_spark.queries import connected_components

    edges = spark.createDataFrame(
        [(f"v{i}", f"v{i + 1}") for i in range(6)], ["doc_a", "doc_b"])
    ckpt = str(tmp_path / "cc")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, checkpoint_dir=ckpt, max_iters=3)
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().isEmpty()
    got = {(r.doc_id, r.component_id)
           for r in connected_components(
               edges, checkpoint_dir=ckpt, max_iters=4).collect()}
    assert got == {(f"v{i}", "v0") for i in range(7)}


def test_cc_checkpoint_dirs_cannot_collide(spark, tmp_path):
    """The query-level checkpoint root is configurable
    (spark.dragnet.cc.checkpointDir) and defaults to a path embedding
    the Spark application id — two concurrent sessions benching the
    same sf_dir write to different directories by construction (the r3
    hardcoded /tmp/<slug> race) — under the session's SparkFiles root,
    which spark.stop() deletes, so no checkpoint outlives its run."""
    import os

    from pyspark import SparkFiles

    from dragnet_spark.queries import cc_checkpoint_base, q_dedup_components

    assert spark.sparkContext.applicationId in cc_checkpoint_base(spark)
    root = os.path.realpath(SparkFiles.getRootDirectory())
    assert os.path.realpath(cc_checkpoint_base(spark)).startswith(
        root + os.sep)
    spark.conf.set("spark.dragnet.cc.checkpointDir", str(tmp_path / "ccA"))
    try:
        assert cc_checkpoint_base(spark) == str(tmp_path / "ccA")
        q_dedup_components(spark, SF).collect()
        ckpts = list((tmp_path / "ccA").glob("*.parquet/_SUCCESS"))
        assert len(ckpts) == 1
    finally:
        spark.conf.unset("spark.dragnet.cc.checkpointDir")


def test_media_frame_sample_stride(spark):
    from dragnet_spark.multimodal import q_media_frame_sample
    rows = q_media_frame_sample(spark, SF).where("doc_id = 7").collect()
    # doc 7: n_frames = 1 + 7%8 = 8 -> stride-2 sampled frames 0,2,4,6
    assert sorted(r.frame_idx for r in rows) == [0, 2, 4, 6]
    assert all(r.frame_mean == float((7 * 31) % 251) for r in rows)
    assert rows[0].out_width == (64 + 7 * 7 % 192) // 2


def test_connected_components_random_graphs(spark, tmp_path):
    """Differential test vs a pure-Python union-find on seeded random
    graphs (multi-round convergence, multiple cluster shapes)."""
    import numpy as np
    from dragnet_spark.queries import connected_components

    def union_find(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for v in {x for e in edges for x in e}:
            comp.setdefault(find(v), []).append(v)
        return {f"v{v:03d}": f"v{min(vs):03d}"
                for vs in comp.values() for v in vs}

    rng = np.random.default_rng(42)
    n, m = 30, 40            # one graph: Spark rounds dominate test time
    pairs = {tuple(sorted(p)) for p in rng.integers(0, n, (m, 2))
             if p[0] != p[1]}
    want = union_find(n, pairs)
    df = spark.createDataFrame(
        [(f"v{a:03d}", f"v{b:03d}") for a, b in sorted(pairs)],
        ["doc_a", "doc_b"])
    got = {r.doc_id: r.component_id
           for r in connected_components(
               df, checkpoint_dir=str(tmp_path / "cc")).collect()}
    assert got == want, (n, m)


def test_hll_rank_arithmetic_vs_python():
    """The HLL bucket/rank SQL arithmetic == a bit-level Python
    reference, over random md5 strings (DuckDB side; the Spark side is
    the same formula and the driver gate checks end-to-end)."""
    import hashlib

    import duckdb

    from dragnet_spark.queries import _HLL_CAP

    def py_rank(h: str) -> tuple[int, int]:
        bucket = int(h[:2], 16)
        bits = bin(int(h[2:], 16))[2:].zfill(120)
        nz_bits = len(bits) - len(bits.lstrip("0"))
        return bucket, min(nz_bits + 1, _HLL_CAP)

    con = duckdb.connect()
    keys = [str(i * 7919) for i in range(200)]
    con.execute("CREATE TABLE t AS SELECT unnest(?) AS k", [keys])
    rows = con.sql(f"""
      WITH hh AS (SELECT md5(k) AS h FROM t),
      rk AS (
        SELECT h, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
               length(regexp_extract(substr(h, 3, 30), '^0*')) AS nz,
               substr(h, 3 + length(regexp_extract(substr(h, 3, 30),
                                                   '^0*')), 1) AS c
        FROM hh)
      SELECT h, bucket,
             CASE WHEN nz >= 30 THEN {_HLL_CAP}
                  ELSE LEAST(nz * 4 +
                             CASE WHEN c = '1' THEN 3
                                  WHEN c IN ('2', '3') THEN 2
                                  WHEN c IN ('4', '5', '6', '7') THEN 1
                                  ELSE 0 END + 1, {_HLL_CAP}) END AS r
      FROM rk""").fetchall()
    assert len(rows) == 200
    for h, bucket, r in rows:
        wb, wr = py_rank(h)
        assert (bucket, r) == (wb, wr), h


# --------------------------------------------------------------------------
# Segment dedup / contamination / repetition quality (constructed docs)
# --------------------------------------------------------------------------

def _write_docs(spark, tmp_path, docs):
    """Write a documents.parquet with the driver schema into tmp_path
    and return it as an sf_dir."""
    rows = [(int(i), t, "en", "src0", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).coalesce(1).write.mode("overwrite") \
     .parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_dedup_segments_first_occurrence_wins(spark, tmp_path):
    from dragnet_spark.queries import q_dedup_segments
    seg_a = " ".join(f"a{i}" for i in range(8))
    seg_b = " ".join(f"b{i}" for i in range(8))
    seg_c = " ".join(f"c{i}" for i in range(8))
    sf = _write_docs(spark, tmp_path, [
        (1, f"{seg_a} {seg_b}"),        # both kept (first occurrences)
        (2, f"{seg_b} {seg_c}"),        # seg_b removed (doc 1 owns it)
        (3, seg_b),                     # removed entirely
    ])
    got = {r.doc_id: (r.n_segments, r.n_kept, r.n_removed)
           for r in q_dedup_segments(spark, sf).collect()}
    assert got == {1: (2, 2, 0), 2: (2, 1, 1), 3: (1, 0, 1)}


def test_contamination_hits_eval_trigrams(spark, tmp_path):
    from dragnet_spark.queries import q_contamination_ngrams
    # doc 0 (0 % 97 == 0) is the eval set; docs 1/2 are training.
    sf = _write_docs(spark, tmp_path, [
        (0, "w x y z q"),               # eval trigrams: wxy xyz yzq
        (1, "a b w x y c d e f g"),     # contains 'w x y' -> 1 hit of 8
        (2, "m n o p r s t u"),         # clean
    ])
    got = {r.doc_id: (r.n_ngrams, r.n_hit_ngrams, r.hit_frac)
           for r in q_contamination_ngrams(spark, sf).collect()}
    assert got == {1: (8, 1, 0.125)}    # doc 2 clean, doc 0 excluded


def test_quality_repetition_values(spark, tmp_path):
    from dragnet_spark.queries import q_quality_repetition
    sf = _write_docs(spark, tmp_path, [
        (1, "a b a b c"),   # bigrams: ab ba ab bc -> top 2/4; dup 1-3/5
        (2, "u v w"),       # all distinct: dup 0, top 1/2
    ])
    got = {r.doc_id: r for r in q_quality_repetition(spark, sf).collect()}
    r1, r2 = got[1], got[2]
    assert (r1.n_words, r1.n_bigrams) == (5, 4)
    assert r1.dup_word_frac == 0.4 and r1.top_bigram_frac == 0.5
    assert (r2.n_words, r2.n_bigrams) == (3, 2)
    assert r2.dup_word_frac == 0.0 and r2.top_bigram_frac == 0.5


# --------------------------------------------------------------------------
# Quantization / histogram quantiles / TF-IDF (constructed inputs)
# --------------------------------------------------------------------------

def _write_embs(spark, tmp_path, vecs):
    """Write an embeddings.parquet with the driver schema into tmp_path
    and return it as an sf_dir."""
    rows = [(int(i), [float(x) for x in v], 0) for i, v in vecs]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite") \
     .parquet(f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_embedding_quantize_known_values(spark, tmp_path):
    from dragnet_spark.queries import q_embedding_quantize
    sf = _write_embs(spark, tmp_path, [
        (0, [1.0, -0.5, 0.25, 0.0]),   # amax 1.0 -> scale 1/127
        (1, [0.0, 0.0]),               # all-zero -> scale 1.0, q == 0
    ])
    got = {r.vec_id: r for r in q_embedding_quantize(spark, sf).collect()}
    r0 = got[0]
    scale = 1.0 / 127.0
    # q_j = floor(x_j/scale + 0.5): [127, -63, 32, 0]
    assert (r0.q_min, r0.q_max, r0.n_dims) == (-63, 127, 4)
    errs = [1.0 - 127 * scale, -0.5 - (-63) * scale,
            0.25 - 32 * scale, 0.0]
    assert r0.mse == pytest.approx(
        sum(e * e for e in errs) / 4, abs=1e-6)
    assert r0.max_abs_err == pytest.approx(
        max(abs(e) for e in errs), abs=1e-6)
    r1 = got[1]
    assert (r1.q_min, r1.q_max, r1.scale, r1.mse, r1.max_abs_err) \
        == (0, 0, 1.0, 0.0, 0.0)


def test_length_quantiles_inverse_cdf(spark, tmp_path):
    from dragnet_spark.queries import q_length_quantiles
    # lengths 1..10 in one language: inverse-CDF quantiles match
    # DuckDB quantile_disc([.5, .9, .99]) == [5, 9, 10].
    sf = _write_docs(spark, tmp_path,
                     [(i, "x" * i) for i in range(1, 11)])
    r, = q_length_quantiles(spark, sf).collect()
    assert (r.lang, r.n_docs, r.min_chars, r.max_chars) == ("en", 10, 1, 10)
    assert (r.p50, r.p90, r.p99) == (5, 9, 10)
    assert r.mean_chars == pytest.approx(5.5, abs=1e-6)


def test_tfidf_topterms_ranking_and_ties(spark, tmp_path):
    from dragnet_spark.queries import q_tfidf_topterms
    sf = _write_docs(spark, tmp_path, [
        (1, "cat cat dog"),
        (2, "dog bird"),
        (3, "bird bird bird fish"),
    ])
    rows = q_tfidf_topterms(spark, sf).collect()
    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df, r.tfidf) for r in rows}
    # N=3; rational idf (N+1)/(df+1): cat/fish -> 2.0, dog/bird -> 4/3
    assert got[(1, 1)] == ("cat", 2, 1, 4.0)
    assert got[(1, 2)][0] == "dog"
    assert got[(3, 1)] == ("bird", 3, 2, 4.0)
    assert got[(3, 2)] == ("fish", 1, 1, 2.0)
    # doc 2: dog and bird tie at 1.333333 -> term asc breaks the tie
    assert got[(2, 1)][0] == "bird" and got[(2, 2)][0] == "dog"
    assert got[(2, 1)][3] == got[(2, 2)][3] == 1.333333
    assert len(rows) == 6   # every doc has exactly 2 distinct terms


# --------------------------------------------------------------------------
# Quantized ANN retrieval / event sessionization
# --------------------------------------------------------------------------

def test_ann_quantized_topk_recall_vs_exact(spark):
    """int8 retrieval must agree with the exact f32 top-10 on nearly
    every neighbour (quantization perturbs cosines by <1e-2)."""
    from dragnet_spark.queries import q_ann_cosine_topk, q_ann_quantized_topk
    exact = {r.vec_id for r in q_ann_cosine_topk(spark, SF).collect()}
    quant = {r.vec_id for r in q_ann_quantized_topk(spark, SF).collect()}
    assert len(exact & quant) >= 8


def test_ann_quantized_rescore_equals_exact(spark):
    """The two-stage retrieval (int8 top-50 shortlist -> exact f32
    rescore) must return EXACTLY the brute-force top-10 — the
    shortlist loses nothing at this corpus/similarity profile, which
    is the contract that makes the 4x-cheaper first pass safe."""
    from dragnet_spark.queries import (q_ann_cosine_topk,
                                       q_ann_quantized_rescore)
    exact = [(r.vec_id, r.cos_sim)
             for r in q_ann_cosine_topk(spark, SF).collect()]
    rescored = [(r.vec_id, r.cos_sim)
                for r in q_ann_quantized_rescore(spark, SF).collect()]
    assert rescored == exact


def test_ann_quantized_rescore_no_corpus_shuffle(spark):
    """Stage 2's shortlist join must broadcast (the 50-row shortlist
    probes the embeddings scan) — the corpus itself never shuffles:
    no SortMergeJoin, no CartesianProduct, and the final top-10 is a
    TakeOrdered."""
    from dragnet_spark.queries import q_ann_quantized_rescore
    plan = q_ann_quantized_rescore(spark, SF)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("simple"))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_shuffle_join_fallback_matches_broadcast(spark, tmp_path):
    """The 1e8-term-vocab story: with NO broadcast hint on the df
    relation, the optimizer broadcasts under the default threshold but
    falls back to a shuffle join of the two PRE-AGGREGATED sides when
    the threshold is exceeded (autoBroadcastJoinThreshold=-1 simulates
    it) — same results, no forced driver-OOM broadcast (r4 advice: an
    explicit hint would override the threshold)."""
    from dragnet_spark.queries import q_tfidf_topterms
    sf = _write_docs(spark, tmp_path, [
        (1, "cat cat dog"),
        (2, "dog bird"),
        (3, "bird bird bird fish"),
    ])

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
                 .fromString("simple"))

    q = q_tfidf_topterms(spark, sf)
    assert "BroadcastHashJoin" in plan_of(q)
    want = sorted((r.doc_id, r.rank, r.term, r.tfidf)
                  for r in q.collect())
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q2 = q_tfidf_topterms(spark, sf)
        p2 = plan_of(q2)
        assert "SortMergeJoin" in p2 and "BroadcastHashJoin" not in p2
        got = sorted((r.doc_id, r.rank, r.term, r.tfidf)
                     for r in q2.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_str, user_id, value). Writes the driver
    events schema (ts as TIMESTAMP_NTZ, like the testdata parquet)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(int(e), t, int(u), "click", float(v), "{}")
         for e, t, u, v in rows],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    ).select("event_id",
             F.col("ts").cast("timestamp_ntz").alias("ts"),
             "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite") \
      .parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_events_sessionize_gap_semantics(spark, tmp_path):
    from dragnet_spark.queries import q_events_sessionize
    sf = _write_events(spark, tmp_path, [
        # user 1: two events 1h apart (one session), then a 5h gap
        (1, "2024-01-01 00:00:00", 1, 1.5),
        (2, "2024-01-01 01:00:00", 1, 2.5),
        (3, "2024-01-01 06:00:00", 1, 4.0),
        # user 2: single event
        (4, "2024-01-02 12:00:00", 2, 10.0),
        # user 3: EXACTLY the 4h gap — session_window MERGES the
        # touching event (probed on Spark 4.1.2; the earlier half-open
        # reading that predicted a split was wrong, caught by the
        # random-event fuzz), so batch must merge too
        (5, "2024-01-03 00:00:00", 3, 1.0),
        (6, "2024-01-03 04:00:00", 3, 2.0),
        # user 4: one microsecond under the gap — stays merged
        (7, "2024-01-04 00:00:00.000001", 4, 3.0),
        (8, "2024-01-04 04:00:00.000000", 4, 4.0),
    ])
    got = {(r.user_id, r.session_id):
           (r.n_events, r.duration_s, r.sum_value)
           for r in q_events_sessionize(spark, sf).collect()}
    assert got == {(1, 1): (2, 3600.0, 4.0),
                   (1, 2): (1, 0.0, 4.0),
                   (2, 1): (1, 0.0, 10.0),
                   (3, 1): (2, 14400.0, 3.0),
                   (4, 1): (2, 14399.999999, 7.0)}


def test_events_sessionize_single_exchange(spark):
    """Both window specs (lag over ts, running sum over us) and the
    final session aggregation must share ONE user_id exchange."""
    from dragnet_spark.queries import q_events_sessionize
    plan = q_events_sessionize(spark, SF)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("simple"))
    assert plan.count("Exchange") == 1, plan


def test_curate_decisions_all_reasons(spark, tmp_path):
    """One constructed doc per rule, checking the precedence cascade
    (eval_holdout > duplicate > near_duplicate > too_short >
    repetitive > contaminated > keep).  Docs 6/7 plant a NEAR-dup
    cluster (7/9 shared 3-shingles, Jaccard 0.78, distinct exact
    fingerprints): the component-min doc keeps, the other drops as
    near_duplicate; the exact-dup pair 3/4 shares a cluster too but
    doc 4 is caught by the cheaper fingerprint rule first."""
    from dragnet_spark.queries import q_curate_decisions
    keep_text = "m n o p r s t u"
    sf = _write_docs(spark, tmp_path, [
        (0, "w x y z q"),            # doc_id%97==0 -> eval_holdout
        (1, "a b a b a b a"),        # dup_word_frac 5/7 -> repetitive
        (2, "p q r"),                # 3 words -> too_short
        (3, keep_text),              # -> keep
        (4, keep_text),              # same fp, higher doc_id -> duplicate
        # 4/6 eval 3-grams hit, but split across BOTH eval docs so the
        # Jaccard to each stays 2/7 < 0.5 (with a single tiny eval doc,
        # hit_frac > 0.5 forces Jaccard >= 0.5 and the near_duplicate
        # rule would fire first)
        (5, "w x y z k l m n"),      # -> contaminated
        (6, "h i j k l f g n o b"),  # near-dup cluster min -> keep
        (7, "h i j k l f g n o v"),  # 7/9 shingles shared -> near_duplicate
        (97, "j k l m n"),           # second eval doc (97 % 97 == 0)
    ])
    got = {r.doc_id: (r.reason, r.keep)
           for r in q_curate_decisions(spark, sf).collect()}
    assert got == {0: ("eval_holdout", False),
                   1: ("repetitive", False),
                   2: ("too_short", False),
                   3: ("keep", True),
                   4: ("duplicate", False),
                   5: ("contaminated", False),
                   6: ("keep", True),
                   7: ("near_duplicate", False),
                   97: ("eval_holdout", False)}


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables AQE skew-join (`session.py`), the runtime
    lever for JOIN-KEY skew at web scale — complementing the explicit
    chunk salting the pipeline applies to giant documents.  Pin that a
    planted hot key (90% of rows on key 0) actually triggers the
    runtime rewrite — `SortMergeJoin(skew=true)` reading from an
    `AQEShuffleRead skewed` — and that the split join's result equals
    the broadcast plan exactly (AQE splits may not duplicate or drop
    rows)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    left = (spark.range(40000)
            .select(F.when(F.col("id") % 10 < 9, F.lit(0))
                     .otherwise(F.col("id") % 100).alias("key"),
                    F.concat(F.lit("payload-"), F.col("id")).alias("pay")))
    right = spark.range(100).select(F.col("id").alias("key"),
                                    (F.col("id") * 7).alias("dim"))

    def agg(joined):
        return joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("pay") + F.col("dim")).alias("s"))

    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        res = agg(left.join(right, "key"))
        got = res.collect()[0]
        # Read the plan AFTER execution: only then has AQE replaced the
        # static SortMergeJoin with the skew-split form (isFinalPlan).
        plan = res._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
    assert "SortMergeJoin(skew=true)" in plan, plan
    assert "AQEShuffleRead skewed" in plan, plan
    want = agg(left.join(F.broadcast(right), "key")).collect()[0]
    assert (got.n, got.s) == (want.n, want.s)


def test_near_dup_band_exchange_is_reused(spark):
    """The single-scan LSH banding claim, pinned: at shuffle-join scale
    (broadcast disabled, the 10^12-vector shape) both sides of the
    band-bucket self-join are the SAME posexplode subplan, so Spark
    must compute its exchange once and wire the second side as a
    ReusedExchange — one scan + one hyperplane-dot pass over the
    embeddings, not two."""
    from dragnet_spark.queries import q_embedding_near_dup

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        df = q_embedding_near_dup(spark, SF)
        df.collect()
        # plan must be read AFTER execution (AQE finalizes reuse then)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, saved)
    assert "ReusedExchange" in plan, plan
    # the reused side carries the banding columns
    reused = [l for l in plan.splitlines() if "ReusedExchange" in l]
    assert any("band" in l for l in reused), reused


def test_minhash_band_exchange_is_reused(spark):
    """Same pin for the text-minhash LSH (the README's 'minhash
    exchange reused across the bucket self-join' claim): at
    shuffle-join scale the second side of the (band, bucket) self-join
    must be a ReusedExchange of the first — one shingle+minhash pass
    over the corpus, not two."""
    from dragnet_spark.queries import q_dedup_minhash_lsh

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        df = q_dedup_minhash_lsh(spark, SF)
        got = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, saved)
    assert len(got) > 0          # sf0.001 has real candidate pairs
    assert "ReusedExchange" in plan, plan


def test_no_per_row_python_udfs_in_package():
    """Source-level guard for the engine rule the plans rely on: no
    row-at-a-time Python UDFs anywhere in dragnet_spark — Python code
    runs only through Arrow-batched forms (mapInPandas,
    applyInPandas[WithState], @pandas_udf).  A plain F.udf would
    silently de-vectorize whatever expression it touched."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).parent.parent / "dragnet_spark"
    offenders = []
    for py in sorted(pkg.glob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\bF\.udf\s*\(|\budf\s*\(\s*lambda|@udf\b",
                         line):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_quant_codes_reconstruction_bound(spark, tmp_path):
    """Property of the shared int8 quantizer over a seeded random
    batch (128 vectors x 24 dims, scales spanning 1e-3..1e3): codes
    stay in [-127, 127], per-vector scale is exactly max|x|/127, and
    round-half-up guarantees |x - q*scale| <= scale/2 for EVERY
    coordinate — the reconstruction bound the ANN rescore stage's
    recall argument rests on."""
    import numpy as np

    from dragnet_spark.queries import _quant_codes

    rng = np.random.default_rng(42)
    vecs = []
    for i in range(128):
        mag = 10.0 ** rng.uniform(-3, 3)
        vecs.append((i + 1, (rng.uniform(-1, 1, 24) * mag).astype("f4")))
    sf = _write_embs(spark, tmp_path, vecs)
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = {r.vec_id: r for r in _quant_codes(e).collect()}
    assert len(got) == 128
    for vid, v in vecs:
        r = got[vid]
        x = v.astype("f8")              # the query casts f4 -> double
        scale = np.abs(x).max() / 127.0  # same formula as _quant_codes
        q = np.array(r.q, dtype="f8")
        assert q.min() >= -127 and q.max() <= 127
        err = np.abs(x - q * scale)
        assert (err <= scale / 2 + 1e-12 * scale).all(), (vid, err.max())


def test_round_zero_sign_convention_normalized(spark):
    """Pin the cross-engine ROUND zero-sign convention the sf0.1 bit
    sweep exposed: a tiny negative double rounds to -0.0 under
    DuckDB's C round but to +0.0 under Spark's BigDecimal HALF_UP —
    float-equal, bit-different — and '+ 0.0' normalizes both to +0.0
    (IEEE round-to-nearest never yields -0.0 from (-0.0) + (+0.0))
    while passing NULL through.  The near-zero rounded columns
    (windowed_stats / sk_estimator sk, channel_stats mean/var/padval)
    carry this normalization on BOTH sides; if either engine ever
    changes its convention this fails here, not as a one-cell bit
    mismatch at scale."""
    import struct

    import duckdb

    def bits(x):
        return struct.pack("<d", x).hex()

    d_raw, d_norm, d_null = duckdb.sql(
        "SELECT ROUND(-1e-9, 6), ROUND(-1e-9, 6) + 0.0, "
        "CAST(NULL AS DOUBLE) + 0.0").fetchone()
    assert bits(d_raw) == bits(-0.0)        # C round keeps the sign
    assert bits(d_norm) == bits(0.0)
    assert d_null is None
    r = spark.sql(
        "SELECT round(CAST(-1e-9 AS DOUBLE), 6) AS raw, "
        "round(CAST(-1e-9 AS DOUBLE), 6) + 0.0D AS norm, "
        "CAST(NULL AS DOUBLE) + 0.0D AS n").collect()[0]
    assert bits(r.raw) == bits(0.0)         # HALF_UP drops the sign
    assert bits(r.norm) == bits(0.0)
    assert r.n is None
    # The normalization is the identity on nonzero values (both engines).
    assert duckdb.sql(
        "SELECT ROUND(1.2345675, 6) + 0.0 = ROUND(1.2345675, 6)"
    ).fetchone()[0]


# --------------------------------------------------------------------------
# Merged simhash gate entry + PII scrub (round 5 additions)
# --------------------------------------------------------------------------

def test_simhash_merged_matches_both_standalone_grains(spark):
    """The r5 gate consolidation must not change either operator's
    semantics: sig rows == q_dedup_simhash exactly, pair rows ==
    q_dedup_simhash_pairs exactly (including the sig16 = sig32 &
    0xFFFF derivation that enables exchange reuse)."""
    from dragnet_spark.queries import (q_dedup_simhash,
                                       q_dedup_simhash_full,
                                       q_dedup_simhash_pairs)
    merged = q_dedup_simhash_full(spark, SF).collect()
    sig = sorted((r.doc_a, r.value) for r in merged if r.kind == "sig")
    pairs = sorted((r.doc_a, r.doc_b, r.value)
                   for r in merged if r.kind == "pair")
    assert len(sig) + len(pairs) == len(merged)  # no other kinds
    assert all(r.doc_b == -1 for r in merged if r.kind == "sig")
    want_sig = sorted((r.doc_id, r.simhash)
                      for r in q_dedup_simhash(spark, SF).collect())
    want_pairs = sorted((r.doc_a, r.doc_b, r.hamming)
                        for r in q_dedup_simhash_pairs(spark, SF).collect())
    assert sig == want_sig
    assert pairs == want_pairs


def test_simhash_merged_single_scan_exchange_reuse(spark):
    """The merged entry's whole point: the tokenize+md5+parity
    aggregation runs ONCE — the executed plan has exactly one live
    FileScan and wires the union's second branch and the self-join's
    build side as ReusedExchange nodes.  (Executed plan, not static:
    AQE finalizes reuse at runtime.)"""
    from dragnet_spark.queries import q_dedup_simhash_full
    df = q_dedup_simhash_full(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("AdaptiveSparkPlan")[-1]
    # toString prints the final plan first, then the initial plan
    # again under a bare "Union" heading — count only the final part.
    cut = final.find("\n   Union\n")
    fin = final[:cut] if cut > 0 else final
    assert fin.count("FileScan parquet") == 1, fin
    assert fin.count("ReusedExchange") == 2, fin


def test_pii_redact_counts_and_redaction(spark):
    """Semantic check of the PII scrub: detection counts follow the
    deterministic plant (doc_id % 3/4/5), and the redacted text
    contains placeholders but no residual raw PII."""
    import re
    from dragnet_spark.queries import (PII_EMAIL_RE, PII_IPV4_RE,
                                       PII_PHONE_RE, q_pii_redact)
    rows = q_pii_redact(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.n_emails == (1 if r.doc_id % 3 == 0 else 0)
        assert r.n_ipv4 == (1 if r.doc_id % 4 == 0 else 0)
        assert r.n_phones == (1 if r.doc_id % 5 == 0 else 0)
        for pat in (PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE):
            assert not re.search(pat, r.redacted), (r.doc_id, r.redacted)
        if r.doc_id % 3 == 0:
            assert "<EMAIL>" in r.redacted
        if r.doc_id % 4 == 0:
            assert "<IP>" in r.redacted
        if r.doc_id % 5 == 0:
            assert "<PHONE>" in r.redacted


def test_pii_redact_is_shuffle_free(spark):
    """Scale shape: the scrub is a single narrow scan-projection —
    zero shuffle Exchanges, zero joins, no Python in the path."""
    import re
    from dragnet_spark.queries import q_pii_redact
    df = q_pii_redact(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
             .fromString("formatted"))
    assert not re.search(r"\(\d+\) Exchange\b", plan), plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
