"""ANSI-SQL oracles (DuckDB dialect) for every entry in
:data:`dragnet_spark.queries.QUERIES`.

Each string is semantically identical to its Spark DataFrame
counterpart, with float expressions written in the same operation
order and money-like sums routed through DECIMAL(18,2) so the
value-hash comparison is exact.  See queries.py for the determinism
rules.
"""

ORACLE_SQL: dict[str, str] = {}

ORACLE_SQL["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

ORACLE_SQL["revenue_by_nation"] = """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
"""

ORACLE_SQL["zero_dm_sum"] = """
SELECT CAST(FLOOR(event_id / 100) AS BIGINT) AS t_bucket,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS zero_dm,
       COUNT(*) AS n
FROM events
GROUP BY 1
"""

ORACLE_SQL["sk_estimator"] = """
WITH g AS (
  SELECT user_id AS chan,
         CAST(FLOOR(event_id / 100) AS BIGINT) AS t_bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         COUNT(*) AS m
  FROM events GROUP BY 1, 2
), s AS (
  SELECT chan, t_bucket, m,
         (CAST(m AS DOUBLE) * 12.0 + 1.0) / (CAST(m AS DOUBLE) - 1.0)
         * (CAST(m AS DOUBLE) * s2 / (s1 * s1) - 1.0) AS sk_raw
  FROM g WHERE m > 1 AND s1 <> 0.0
)
SELECT chan, t_bucket, m,
       -- + 0.0: zero-sign normalization, mirrored in the Spark query
       ROUND(sk_raw, 6) + 0.0 AS sk,
       CAST(sk_raw < 0.8 OR sk_raw > 1.2 AS INT) AS masked
FROM s
"""

ORACLE_SQL["tumbling_decimate"] = """
SELECT CAST(FLOOR(event_id / 8) AS BIGINT) AS t_bucket,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
           AS dec_mean,
       COUNT(*) AS m
FROM events
GROUP BY 1
"""

ORACLE_SQL["interval_mask_join"] = """
WITH eb AS (
  SELECT *, CAST(FLOOR(event_id / 100) AS BIGINT) AS t_bucket FROM events
), zap AS (
  SELECT t_bucket FROM eb WHERE event_type = 'error'
  GROUP BY t_bucket HAVING COUNT(*) >= 3
)
SELECT t_bucket, COUNT(*) AS n_masked
FROM eb JOIN zap USING (t_bucket)
GROUP BY t_bucket
"""

ORACLE_SQL["union_distinct_channels"] = """
SELECT user_id FROM events WHERE event_type = 'error'
UNION
SELECT user_id FROM events WHERE event_type = 'click'
"""

# A3 + A4 merged (r5 gate consolidation): both statistics derive from
# the same ranked ordering.
ORACLE_SQL["robust_stats"] = """
WITH ranked AS (
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), med AS (
  SELECT event_type, value AS median_value, n
  FROM ranked WHERE rn = FLOOR((n - 1) / 2) + 1
), lims AS (
  SELECT *, FLOOR(n * 0.8 + 0.5) AS ln,
         FLOOR((n - FLOOR(n * 0.8 + 0.5)) / 2) AS strt
  FROM ranked
), trm AS (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS trimmed_avg,
         COUNT(*) AS n_kept
  FROM lims WHERE rn > strt AND rn <= strt + ln
  GROUP BY event_type
)
SELECT event_type, median_value, n, trimmed_avg, n_kept
FROM med JOIN trm USING (event_type)
"""

ORACLE_SQL["dedup_exact"] = """
SELECT md5(text) AS fingerprint, MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""

_SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
             AS s
  FROM documents
)"""

_MINHASH_CTE = _SHINGLES_CTE + """,
mh AS (
  SELECT doc_id,
         min(md5(s || ':0')) AS h0, min(md5(s || ':1')) AS h1,
         min(md5(s || ':2')) AS h2, min(md5(s || ':3')) AS h3,
         min(md5(s || ':4')) AS h4, min(md5(s || ':5')) AS h5,
         min(md5(s || ':6')) AS h6, min(md5(s || ':7')) AS h7
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS b, h0 || h1 AS v FROM mh UNION ALL
  SELECT doc_id, 1,      h2 || h3      FROM mh UNION ALL
  SELECT doc_id, 2,      h4 || h5      FROM mh UNION ALL
  SELECT doc_id, 3,      h6 || h7      FROM mh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v
                           AND a.doc_id < c.doc_id
)"""

ORACLE_SQL["dedup_minhash_lsh"] = "WITH " + _MINHASH_CTE + """
SELECT doc_a, doc_b FROM cand
"""

ORACLE_SQL["dedup_jaccard"] = "WITH " + _MINHASH_CTE + """,
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id AND sa.s = sb.s
  GROUP BY cand.doc_a, cand.doc_b
)
SELECT doc_a, doc_b,
       ROUND(n_common / (za.sz + zb.sz - n_common), 6) AS jaccard
FROM common
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE n_common / (za.sz + zb.sz - n_common) >= 0.5
"""

# Connected components of the verified near-dup graph: reachability by
# a recursive CTE (UNION dedups, so it terminates), then MIN over the
# reachable labels == lexicographic-min vertex of the component —
# exactly the star forest the Spark large-star/small-star rounds
# converge to (connected_components).
ORACLE_SQL["dedup_components"] = "WITH RECURSIVE " + _MINHASH_CTE + """,
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id AND sa.s = sb.s
  GROUP BY cand.doc_a, cand.doc_b
),
jpair AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes za ON doc_a = za.doc_id
  JOIN sizes zb ON doc_b = zb.doc_id
  WHERE n_common / (za.sz + zb.sz - n_common) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpair
  UNION ALL
  SELECT doc_b, doc_a FROM jpair
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id, MIN(comp) AS component_id FROM reach GROUP BY doc_id
"""

ORACLE_SQL["token_topk"] = """
SELECT tok, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 20
"""

# text_quality (merged with lang_id's scores/prediction) is assigned
# below, after the _lang_score/_lang_pred helpers are defined.

# ws + regex tokenizers merged (r5 gate consolidation).
ORACLE_SQL["token_counts"] = """
WITH ws AS (
  SELECT lang, COUNT(*) AS total_tokens,
         COUNT(DISTINCT tok) AS distinct_tokens
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY lang
), rx AS (
  SELECT lang, COUNT(*) AS regex_tokens,
         COUNT(DISTINCT tok) AS regex_distinct_tokens
  FROM (SELECT lang,
               unnest(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS tok
        FROM documents)
  GROUP BY lang
)
SELECT lang, total_tokens, distinct_tokens,
       regex_tokens, regex_distinct_tokens
FROM ws JOIN rx USING (lang)
"""

# bag + rolling fingerprints merged (r5 gate consolidation).
ORACLE_SQL["doc_fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                           ' ')) AS bag_fingerprint,
       (list_sum(list_transform(range(len(string_split(text, ' '))),
           i -> ('0x' || substr(md5(string_split(text, ' ')[i+1]), 1, 8))
                    ::BIGINT
                * (1 + (i * 31) % 97))) % 1000000007)::BIGINT AS rolling_fp
FROM documents
"""

# Embeddings are FLOAT[] on disk; compute the cosine explicitly in
# DOUBLE with sequential sums so it matches Spark's fold bit-for-bit.
_DOTSQL = ("list_sum(list_transform(range(len({a})), "
           "j -> CAST({a}[j+1] AS DOUBLE) * CAST({b}[j+1] AS DOUBLE)))")

ORACLE_SQL["ann_cosine_topk"] = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""".format(ab=_DOTSQL.format(a="embedding", b="qe"),
           aa=_DOTSQL.format(a="embedding", b="embedding"),
           bb=_DOTSQL.format(a="qe", b="qe"))

# A2 stats + A5 padvals merged per channel (r5 gate consolidation).
ORACLE_SQL["channel_stats"] = """
WITH g AS (
  SELECT user_id AS chan,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM events GROUP BY 1
), ranked AS (
  SELECT user_id, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS nn
  FROM events
), lims AS (
  SELECT *, FLOOR(nn * 0.8 + 0.5) AS ln,
         FLOOR((nn - FLOOR(nn * 0.8 + 0.5)) / 2) AS strt
  FROM ranked
), pads AS (
  SELECT user_id AS chan,
         -- + 0.0: zero-sign normalization, mirrored in the Spark query
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) + 0.0 AS padval,
         COUNT(*) AS n_kept
  FROM lims WHERE rn > strt AND rn <= strt + ln
  GROUP BY user_id
)
SELECT chan, n,
       ROUND(s1 / CAST(n AS DOUBLE), 6) + 0.0 AS mean_value,
       ROUND((s2 - s1 * s1 / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0), 6) + 0.0 AS var_samp_value,
       padval, n_kept
FROM g JOIN pads USING (chan)
"""

_TELESCOPE_VALUES = ", ".join(
    f"({i}, '{n}')" for i, n in
    [(0, "Fake"), (1, "Arecibo"), (2, "Ooty"), (3, "Nancay"), (4, "Parkes"),
     (5, "Jodrell"), (6, "GBT"), (7, "GMRT"), (8, "Effelsberg"), (9, "ATA"),
     (10, "UTR-2"), (11, "LOFAR"), (12, "FR606"), (13, "DE601"),
     (14, "UK608")])

ORACLE_SQL["telescope_lookup"] = f"""
WITH dim(telescope_id, telescope) AS (VALUES {_TELESCOPE_VALUES})
SELECT CAST(dim.telescope_id AS INT) AS telescope_id, telescope,
       COUNT(*) AS n_events
FROM events JOIN dim ON CAST(user_id % 15 AS INT) = dim.telescope_id
GROUP BY 1, 2
"""

_HEXBIT = ("CASE WHEN (position(substring(h, {pos}, 1) IN "
           "'0123456789abcdef') - 1) % 2 = 1 THEN 1 ELSE -1 END")

# SimHash, both grains in one tagged relation (r5 slot consolidation,
# queries.q_dedup_simhash_full): kind='sig' rows carry the per-doc
# 16-bit signature (doc_b = sentinel -1), kind='pair' rows the
# Hamming-verified near-dup pairs from the banded 32-bit signature
# (16 bits saturates this corpus), banded 4x8-bit candidate buckets,
# exact Hamming (bit_count of xor) <= 1 verification.  One parity
# aggregation feeds both grains, exactly like the Spark side.
ORACLE_SQL["dedup_simhash"] = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
), b AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), s AS (
  SELECT doc_id, """ + ",\n         ".join(
    f"SUM({_HEXBIT.format(pos=i + 1)}) AS s{i}" for i in range(32)
) + """
  FROM b GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST(""" + " + ".join(
    f"CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(32)
) + """ AS BIGINT) AS sig
  FROM s
), sig16 AS (
  -- bit i of both signatures is [s_i > 0], so the 16-bit signature
  -- is the low 16 bits of the 32-bit one (mirrors the Spark side,
  -- where the shared projection enables exchange reuse)
  SELECT doc_id, sig & 65535 AS simhash FROM sig
), bands AS (
  SELECT doc_id, sig, b.band,
         (sig >> (8 * b.band)) & 255 AS v
  FROM sig, (SELECT unnest(range(4)) AS band) b
)
SELECT 'sig' AS kind, doc_id AS doc_a, CAST(-1 AS BIGINT) AS doc_b,
       simhash AS value
FROM sig16
UNION ALL
SELECT DISTINCT 'pair' AS kind, a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, c.sig)) AS BIGINT) AS value
FROM bands a
JOIN bands c ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.sig, c.sig)) <= 1
"""

_LANG_MARKERS = {
    "en": ("the", "a", "table", "row"),
    "de": ("hash", "join", "key", "big"),
    "es": ("slow", "agg", "merge", "vector"),
    "fr": ("scan", "query", "batch", "small"),
    "zh": ("customer", "window", "line", "group"),
}
_LANG_ORDER = ("en", "de", "es", "fr", "zh")


def _lang_score(lg: str) -> str:
    mk = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lg])
    return (f"CAST(len(list_filter(string_split(text, ' '), "
            f"w -> w IN ({mk}))) AS BIGINT)")


def _lang_pred() -> str:
    cases = []
    for lg in _LANG_ORDER:
        conds = " AND ".join(f"score_{lg} >= score_{o}"
                             for o in _LANG_ORDER if o != lg)
        cases.append(f"WHEN {conds} THEN '{lg}'")
    return "CASE " + " ".join(cases) + " END"


# Quality signals + language ID merged (r5 gate consolidation of the
# former lang_id entry).
ORACLE_SQL["text_quality"] = """
WITH s AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct_tokens,
         ROUND(CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a'))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stopword_ratio,
         ROUND(CAST(list_sum(list_transform(string_split(text, ' '),
                                            w -> length(w))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS mean_token_len,
         """ + ",\n         ".join(
    f"{_lang_score(lg)} AS score_{lg}" for lg in _LANG_ORDER
) + """
  FROM documents
)
SELECT *, """ + _lang_pred() + """ AS predicted_lang FROM s
"""

_LSH_BIT = ("CASE WHEN list_sum(list_transform(range(64), "
            "j -> embedding[j+1] * (CAST((j + {off}) * 37 % 101 AS DOUBLE)"
            " / 101.0 - 0.5))) > 0 THEN {w} ELSE 0 END")


def _nd_band_bucket(band: int) -> str:
    """8-bit sign bucket of near-dup band ``band`` (hyperplanes
    band*8..band*8+7), mirroring queries._band_bucket."""
    return "CAST(" + " + ".join(
        _LSH_BIT.format(off=(band * 8 + k) * 64, w=2 ** k)
        for k in range(8)) + " AS BIGINT)"


ORACLE_SQL["embedding_near_dup"] = ("""
WITH bands AS (
""" + "\n  UNION ALL\n".join(
    f"  SELECT vec_id, {b} AS band, {_nd_band_bucket(b)} AS v FROM embeddings"
    for b in range(4)) + """
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.v = c.v AND a.vec_id < c.vec_id
)
SELECT vec_a, vec_b,
       ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6) AS cos_sim
FROM cand
JOIN embeddings ea ON vec_a = ea.vec_id
JOIN embeddings eb ON vec_b = eb.vec_id
WHERE {ab} / (SQRT({aa}) * SQRT({bb})) >= 0.45
""").format(ab=_DOTSQL.format(a="ea.embedding", b="eb.embedding"),
            aa=_DOTSQL.format(a="ea.embedding", b="ea.embedding"),
            bb=_DOTSQL.format(a="eb.embedding", b="eb.embedding"))

ORACLE_SQL["embedding_sign_lsh"] = """
SELECT bucket, COUNT(*) AS n_vecs FROM (
  SELECT CAST(""" + " + ".join(
    _LSH_BIT.format(off=i * 64, w=2 ** i) for i in range(8)
) + """ AS BIGINT) AS bucket
  FROM embeddings
)
GROUP BY bucket
"""

# Streaming windowed stats, batch form.  Spark's window('1 hour')
# start == date_trunc('hour') for hour-aligned tumbling windows.
ORACLE_SQL["windowed_stats"] = """
WITH g AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
         user_id AS chan,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         COUNT(*) AS m
  FROM events GROUP BY 1, 2
)
SELECT window_start, chan, m,
       -- + 0.0 normalizes ROUND's -0.0 to +0.0 (DuckDB's C round
       -- keeps the sign of a tiny negative, Spark's HALF_UP does
       -- not); the Spark side applies the same normalization.
       ROUND(s1, 6) + 0.0 AS zero_dm,
       CASE WHEN m > 1 AND s1 <> 0.0 THEN
         ROUND((CAST(m AS DOUBLE) * 12.0 + 1.0) / (CAST(m AS DOUBLE) - 1.0)
               * (CAST(m AS DOUBLE) * s2 / (s1 * s1) - 1.0), 6) + 0.0
       END AS sk
FROM g
"""

# The multimodal payload is synthesized deterministically from doc_id
# (multimodal.fake_payload); the oracle recomputes every decoded feature
# arithmetically, so equality proves the binary pack->parse roundtrip.
ORACLE_SQL["media_features"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(64 + (doc_id * 7) % 192 AS INT) AS width,
       CAST(64 + (doc_id * 13) % 128 AS INT) AS height,
       CAST(1 + doc_id % 8 AS INT) AS n_frames,
       (CAST(64 + (doc_id * 7) % 192 AS BIGINT) * 1000000)
           // CAST(64 + (doc_id * 13) % 128 AS BIGINT) AS aspect_micro,
       CAST((doc_id * 31) % 251 AS DOUBLE) AS mean_byte,
       CAST(9 + (1 + doc_id % 8) * 16 AS INT) AS byte_len
FROM documents
"""

# Frame sampling + resize: one row per stride-2 frame index; frames of
# the deterministic FIMG payload are constant fill bytes, so the
# per-frame mean is (doc_id*31)%251 exactly (proving the per-frame
# binary slice); resize dims = floor-half of the packed width/height.
ORACLE_SQL["media_frame_sample"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(unnest(range(0, 1 + doc_id % 8, 2)) AS INT) AS frame_idx,
       CAST((doc_id * 31) % 251 AS DOUBLE) AS frame_mean,
       CAST(GREATEST(1, (64 + (doc_id * 7) % 192) // 2) AS INT)
           AS out_width,
       CAST(GREATEST(1, (64 + (doc_id * 13) % 128) // 2) AS INT)
           AS out_height
FROM documents
"""

# IVF with learned centroids (one exact-arithmetic Lloyd update over
# floor-quantized integer vectors; see queries.q_ann_ivf_kmeans for the
# determinism argument: BIGINT numerators < 2^53, one IEEE division).
_QDOT = ("CAST(list_sum(list_transform(range(64), "
         "j -> {a}[j+1] * {b}[j+1])) AS BIGINT)")

ORACLE_SQL["ann_ivf_kmeans"] = """
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
             AS qv
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, qv AS sv, CAST(1 AS BIGINT) AS cn
  FROM eq WHERE vec_id < 16
), d1 AS (
  SELECT e.vec_id, c.cid,
         CAST({svsv0} - 2 * c.cn * {xsv0} AS DOUBLE)
           / CAST(c.cn * c.cn AS DOUBLE) AS score
  FROM eq e, c0 c
), a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY score, cid) AS rn
    FROM d1) WHERE rn = 1
), s1 AS (
  SELECT a1.cluster, r.range AS pos,
         CAST(SUM(eq.qv[r.range + 1]) AS BIGINT) AS s
  FROM a1 JOIN eq USING (vec_id), range(64) r
  GROUP BY 1, 2
), n1 AS (
  SELECT cluster, COUNT(*) AS cn FROM a1 GROUP BY 1
), c1 AS (
  SELECT s1.cluster AS cid, list(s1.s ORDER BY s1.pos) AS sv,
         CAST(n1.cn AS BIGINT) AS cn
  FROM s1 JOIN n1 USING (cluster)
  GROUP BY s1.cluster, n1.cn
), d2 AS (
  SELECT e.vec_id, c.cid,
         CAST({svsv1} - 2 * c.cn * {xsv1} AS DOUBLE)
           / CAST(c.cn * c.cn AS DOUBLE) AS score
  FROM eq e, c1 c
), a2 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY score, cid) AS rn
    FROM d2) WHERE rn = 1
), qc AS (
  SELECT cluster AS qcell FROM a2 WHERE vec_id = 0
), q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
)
SELECT em.vec_id, CAST(a2.cluster AS BIGINT) AS cell,
       ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6) AS cos_sim
FROM embeddings em
JOIN a2 ON em.vec_id = a2.vec_id
CROSS JOIN qc CROSS JOIN q
WHERE em.vec_id <> 0 AND a2.cluster = qc.qcell
ORDER BY cos_sim DESC, em.vec_id
LIMIT 5
""".format(svsv0=_QDOT.format(a="c.sv", b="c.sv"),
           xsv0=_QDOT.format(a="e.qv", b="c.sv"),
           svsv1=_QDOT.format(a="c.sv", b="c.sv"),
           xsv1=_QDOT.format(a="e.qv", b="c.sv"),
           ab=_DOTSQL.format(a="em.embedding", b="qe"),
           aa=_DOTSQL.format(a="em.embedding", b="em.embedding"),
           bb=_DOTSQL.format(a="qe", b="qe"))

_CELL4 = "CAST(" + " + ".join(
    _LSH_BIT.format(off=i * 64, w=2 ** i) for i in range(4)
) + " AS BIGINT)"

# single-probe + multiprobe merged under one tagged relation (r5 gate
# consolidation of the former ann_ivf_multiprobe entry).
ORACLE_SQL["ann_ivf_topk"] = """
WITH cells AS (
  SELECT vec_id, embedding, {cell} AS cell FROM embeddings
), q AS (
  SELECT embedding AS qe, cell AS qcell FROM cells WHERE vec_id = 0
)
(SELECT 'single' AS probe_mode, vec_id, cell,
        ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6) AS cos_sim
 FROM cells, q
 WHERE vec_id <> 0 AND cell = qcell
 ORDER BY cos_sim DESC, vec_id
 LIMIT 5)
UNION ALL
(SELECT 'multi', vec_id, cell,
        ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6)
 FROM cells, q
 WHERE vec_id <> 0
   AND (cell = qcell OR cell = xor(qcell, 1) OR cell = xor(qcell, 2)
        OR cell = xor(qcell, 4) OR cell = xor(qcell, 8))
 ORDER BY 4 DESC, vec_id
 LIMIT 5)
""".format(cell=_CELL4,
           ab=_DOTSQL.format(a="embedding", b="qe"),
           aa=_DOTSQL.format(a="embedding", b="embedding"),
           bb=_DOTSQL.format(a="qe", b="qe"))

# Deterministic HLL: identical bucket/rank arithmetic and the SAME
# inlined numerator constant as queries.q_approx_distinct_hll (imported
# so the two sides cannot drift); the register sum is exact in double,
# so the single division is bit-identical across engines.
from .queries import _HLL_CAP as _HC, _HLL_M as _HM, _HLL_NUM as _HN  # noqa: E402

ORACLE_SQL["approx_distinct_hll"] = f"""
WITH hh AS (
  SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders
), rk AS (
  SELECT ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
         length(regexp_extract(substr(h, 3, 30), '^0*')) AS nz,
         substr(h, 3 + length(regexp_extract(substr(h, 3, 30), '^0*')), 1)
             AS c
  FROM hh
), rnk AS (
  SELECT bucket,
         CASE WHEN nz >= 30 THEN {_HC}
              ELSE LEAST(nz * 4 +
                         CASE WHEN c = '1' THEN 3
                              WHEN c IN ('2', '3') THEN 2
                              WHEN c IN ('4', '5', '6', '7') THEN 1
                              ELSE 0 END + 1, {_HC}) END AS r
  FROM rk
), regs AS (
  SELECT bucket, MAX(r) AS r FROM rnk GROUP BY bucket
), agg AS (
  SELECT COUNT(*) AS npresent,
         SUM(POW(2.0, {_HC} - r)) AS ssum
  FROM regs
)
SELECT CAST({_HM} AS BIGINT) AS m,
       (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_exact,
       ROUND({_HN!r} / (ssum + ({_HM} - npresent) * {float(2 ** _HC)!r}), 6)
           AS est_hll
FROM agg
"""

ORACLE_SQL["sample_stratified"] = """
SELECT lang, COUNT(*) AS n_total,
       SUM(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     ::BIGINT % 100 < 20
                THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents
GROUP BY lang
ORDER BY lang
"""

ORACLE_SQL["dedup_segments"] = """
WITH segs AS (
  SELECT doc_id,
         unnest(range(0, nseg)) AS seg_idx,
         unnest(list_transform(range(0, nseg),
                i -> array_to_string(w[(i*8+1):(i*8+8)], ' '))) AS seg
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT)
                   AS nseg
        FROM documents)
), ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id, COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) - CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
FROM ranked
GROUP BY doc_id
"""

ORACLE_SQL["contamination_ngrams"] = """
WITH grams AS (
  SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
             AS gs
  FROM documents
), ev AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0
), tr AS (
  SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g
  FROM grams WHERE doc_id % 97 <> 0
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       COUNT(*) AS n_hit_ngrams,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_ngrams, 6) AS hit_frac
FROM tr JOIN ev USING (g)
GROUP BY doc_id, n_ngrams
"""

ORACLE_SQL["quality_repetition"] = """
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_words,
       CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
       ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
           AS dup_word_frac,
       ROUND(CAST(list_max(list_transform(
                 list_distinct(bi),
                 x -> len(list_filter(bi, y -> y = x)))) AS DOUBLE)
             / (len(w) - 1), 6) AS top_bigram_frac
FROM (SELECT doc_id, string_split(text, ' ') AS w,
             list_transform(range(1, len(string_split(text, ' '))),
                 i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))
                 AS bi
      FROM documents)
"""

ORACLE_SQL["embedding_quantize"] = """
WITH base AS (
  SELECT vec_id, len(embedding) AS n_dims,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, n_dims, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_max(list_transform(v, x -> abs(x))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), qd AS (
  SELECT vec_id, n_dims, v, scale,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
  FROM s
), e AS (
  SELECT vec_id, n_dims, scale,
         list_min(q) AS q_min, list_max(q) AS q_max,
         list_transform(range(len(v)),
                        j -> v[j+1] - CAST(q[j+1] AS DOUBLE) * scale) AS err
  FROM qd
)
SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, q_min, q_max,
       ROUND(scale, 6) AS scale,
       ROUND(list_sum(list_transform(err, x -> x * x)) / n_dims, 6) AS mse,
       ROUND(list_max(list_transform(err, x -> abs(x))), 6) AS max_abs_err
FROM e
"""

ORACLE_SQL["length_quantiles"] = """
WITH h AS (
  SELECT lang, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
), h2 AS (
  SELECT lang, n_chars, c,
         SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS tot
  FROM h
)
SELECT lang,
       CAST(MAX(tot) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       ROUND(CAST(SUM(n_chars * c) AS DOUBLE) / CAST(MAX(tot) AS BIGINT), 6)
           AS mean_chars,
       MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
                THEN n_chars END) AS p50,
       MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.9 * CAST(tot AS DOUBLE)
                THEN n_chars END) AS p90,
       MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.99 * CAST(tot AS DOUBLE)
                THEN n_chars END) AS p99
FROM h2
GROUP BY lang
"""

ORACLE_SQL["tfidf_topterms"] = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(CAST(tf AS DOUBLE)
               * (CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6)
             AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
"""

ORACLE_SQL["ann_quantized_topk"] = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_max(list_transform(v, x -> abs(x))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), qc AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
  FROM s
), qb AS (
  SELECT q AS qb FROM qc WHERE vec_id = 0
)
SELECT vec_id,
       ROUND(CAST(list_sum(list_transform(range(len(q)),
                                          j -> q[j+1] * qb[j+1])) AS DOUBLE)
             / (SQRT(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE))
                * SQRT(CAST(list_sum(list_transform(qb, x -> x * x))
                            AS DOUBLE))), 6) AS cos_q
FROM qc, qb
WHERE vec_id <> 0
ORDER BY cos_q DESC, vec_id
LIMIT 10
"""

# Two-stage retrieval: the int8 shortlist ranks by the UNROUNDED
# quantized cosine (exact BIGINT sums -> bit-portable), ties by
# vec_id; the rescore reuses the exact f32->double sequential fold.
ORACLE_SQL["ann_quantized_rescore"] = """
WITH base AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, embedding, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_max(list_transform(v, x -> abs(x))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), qc AS (
  SELECT vec_id, embedding,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
  FROM s
), qb AS (
  SELECT q AS qb FROM qc WHERE vec_id = 0
), shortlist AS (
  SELECT vec_id, embedding
  FROM qc, qb
  WHERE vec_id <> 0
  ORDER BY CAST(list_sum(list_transform(range(len(q)),
                                        j -> q[j+1] * qb[j+1])) AS DOUBLE)
           / (SQRT(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE))
              * SQRT(CAST(list_sum(list_transform(qb, x -> x * x))
                          AS DOUBLE))) DESC,
           vec_id
  LIMIT 50
), qe AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       ROUND({ab} / (SQRT({aa}) * SQRT({bb})), 6) AS cos_sim
FROM shortlist, qe
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""".format(ab=_DOTSQL.format(a="embedding", b="qv"),
           aa=_DOTSQL.format(a="embedding", b="embedding"),
           bb=_DOTSQL.format(a="qv", b="qv"))

ORACLE_SQL["events_sessionize"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v,
         CASE WHEN LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                   > 14400000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT user_id, us, v,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us)
             AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us,
       ROUND(CAST(MAX(us) - MIN(us) AS DOUBLE) / 1e6, 6) AS duration_s,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, session_id
"""

# Near-dup cluster labels (the r5 near_duplicate rule) reuse the
# minhash -> jaccard -> reachability chain of dedup_components.
ORACLE_SQL["curate_decisions"] = "WITH RECURSIVE " + _MINHASH_CTE + """,
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id AND sa.s = sb.s
  GROUP BY cand.doc_a, cand.doc_b
),
jpair AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes za ON doc_a = za.doc_id
  JOIN sizes zb ON doc_b = zb.doc_id
  WHERE n_common / (za.sz + zb.sz - n_common) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpair
  UNION ALL
  SELECT doc_b, doc_a FROM jpair
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM verts
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.doc_id
),
comps AS (
  SELECT doc_id, MIN(comp) AS component_id FROM reach GROUP BY doc_id
),
feat AS (
  SELECT doc_id,
         len(w) AS n_words,
         1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
             AS dup_word_frac,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
               i -> array_to_string(w[i:i+2], ' ')))
         ELSE [] END AS gs,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
             AS dup_rank
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
        FROM documents)
), ev AS (
  SELECT DISTINCT unnest(gs) AS g FROM feat WHERE doc_id % 97 = 0
), hits AS (
  SELECT doc_id, MAX(n_g) AS n_g, COUNT(*) AS n_hit
  FROM (SELECT doc_id, len(gs) AS n_g, unnest(gs) AS g
        FROM feat WHERE doc_id % 97 <> 0) t
  JOIN ev USING (g)
  GROUP BY doc_id
)
SELECT doc_id, reason, reason = 'keep' AS keep
FROM (
  SELECT f.doc_id,
         CASE WHEN f.doc_id % 97 = 0 THEN 'eval_holdout'
              WHEN f.dup_rank > 1 THEN 'duplicate'
              WHEN c.component_id IS NOT NULL
                   AND c.component_id <> f.doc_id THEN 'near_duplicate'
              WHEN f.n_words < 5 THEN 'too_short'
              WHEN f.dup_word_frac > 0.6 THEN 'repetitive'
              WHEN COALESCE(CAST(h.n_hit AS DOUBLE) / h.n_g, 0.0) > 0.5
                   THEN 'contaminated'
              ELSE 'keep' END AS reason
  FROM feat f
  LEFT JOIN hits h ON f.doc_id = h.doc_id
  LEFT JOIN comps c ON f.doc_id = c.doc_id
) s
"""

# PII scrub (queries.q_pii_redact): deterministic plant from doc_id,
# then count + redact emails / IPv4 / phones.  The regexes are
# character-class-only so Java regex (Spark) and RE2 (DuckDB) agree
# exactly; DuckDB regexp_replace needs the explicit 'g' flag to match
# Spark's always-global replacement; redaction order (email, ip,
# phone) is part of the contract.
ORACLE_SQL["pii_redact"] = r"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || doc_id
                   || '@ex' || (doc_id % 7) || '.example.org'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' host 192.' || (doc_id % 200)
                   || '.' || ((doc_id * 3) % 250) || '.'
                   || (doc_id % 9 + 1)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 01'
                   || (doc_id % 90 + 10) || ' ' || (doc_id % 9000 + 1000)
                 ELSE '' END AS txt
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(txt,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(txt,
         '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(txt,
         '\+\d[\d -]{7,}\d')) AS BIGINT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\+\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
FROM planted
"""
