"""Whole-graph analytics over the reference-edge graph.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "graph_link_degrees",
    oracle=_LINK_EDGE_SQL
    + """
    SELECT COALESCE(o.path, i.path) AS path,
           COALESCE(o.out_degree, 0) AS out_degree,
           COALESCE(i.in_degree, 0) AS in_degree
    FROM (SELECT src AS path, count(*) AS out_degree FROM edges GROUP BY 1) o
    FULL OUTER JOIN (SELECT dst AS path, count(*) AS in_degree FROM edges GROUP BY 1) i
      ON o.path = i.path
    """,
)
def graph_link_degrees(spark, sf_dir):
    """Link-graph degree accounting (graph.py:link_degrees): every edge
    participant with in/out degree; the oracle rebuilds the edge list
    from the raw tables branch-by-branch."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, link_degrees

    return link_degrees(_tri(spark, sf_dir), DEFAULT_LINK_FIELDS)


@register(
    "curation_blocklist",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             list_filter(['slow', 'dup', 'junkword'],
                         p -> list_contains(w, p)) AS matched
      FROM d
    )
    SELECT doc_id, len(matched) = 0 AS keep,
           CAST(len(matched) AS INT) AS n_matched,
           matched[1] AS first_match
    FROM m
    """,
)
def curation_blocklist(spark, sf_dir):
    """C4 bad-words gate (curation.py:blocklist_filter, word mode): the
    bounded pattern list inlines as an array literal riding the scan —
    one membership test per pattern per doc, no broadcast, no shuffle.
    first_match reports in pattern-list order."""
    from cm_well_spark.operators.curation import blocklist_filter
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return blocklist_filter(docs, ["slow", "dup", "junkword"], mode="word")


@register(
    "embedding_quantize_binary",
    oracle=_BINCODE_SQL
    + """
    SELECT vec_id, CAST(u.i - 1 AS INT) AS word_idx, code[u.i] AS word
    FROM codes, LATERAL (SELECT unnest(range(1, len(code) + 1)) AS i) u
    """,
)
def embedding_quantize_binary(spark, sf_dir):
    """Sign-bit binary quantization (similarity.py:quantize_binary,
    Charikar 2002 sign codes with identity rotation): 64 dims -> two
    32-bit code words, packed by a columnar fold — 32x smaller ANN
    storage, SQL-replayable packing. Flattened to (vec_id, word_idx,
    word) for the hash compare."""
    from cm_well_spark.operators.similarity import quantize_binary
    from cm_well_spark.sources import tables as tbl

    codes = quantize_binary(tbl.load_table(spark, sf_dir, "embeddings"))
    return codes.select(
        "vec_id", F.posexplode("code").alias("word_idx", "word")
    )


@register(
    "similarity_binary_topk",
    oracle=_BINCODE_SQL
    + """
    , q AS (SELECT code AS qc FROM codes ORDER BY vec_id LIMIT 1)
    SELECT vec_id,
           CAST(list_sum(list_transform(range(1, len(code) + 1),
                 j -> bit_count(xor(code[j], qc[j])))) AS INT) AS hamming
    FROM codes, q
    ORDER BY hamming ASC, vec_id ASC LIMIT 10
    """,
)
def similarity_binary_topk(spark, sf_dir):
    """Exact Hamming top-10 over the packed binary codes
    (similarity.py:binary_hamming_topk): per-word xor+popcount folded
    columnar, TakeOrderedAndProject top-k — the 32x-cheaper first-stage
    retrieval ahead of float re-ranking."""
    from cm_well_spark.operators.similarity import binary_hamming_topk, quantize_binary
    from cm_well_spark.sources import tables as tbl

    codes = quantize_binary(tbl.load_table(spark, sf_dir, "embeddings"))
    qrow = codes.where(F.col("vec_id") == codes.select(F.min("vec_id")).first()[0]).first()
    return binary_hamming_topk(codes, list(qrow["code"]), k=10)


@register(
    "pack_fim_transform",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n,
             ((('0x' || substring(md5('fim:gate:' || doc_id), 1, 12))::BIGINT + 0.5)
              / 281474976710657.0) AS ug,
             ((('0x' || substring(md5('fim:p1:' || doc_id), 1, 12))::BIGINT + 0.5)
              / 281474976710657.0) AS u1,
             ((('0x' || substring(md5('fim:p2:' || doc_id), 1, 12))::BIGINT + 0.5)
              / 281474976710657.0) AS u2
      FROM documents WHERE doc_id < 300
    ),
    sp AS (
      SELECT doc_id, text, n, ug < 0.5 AND n >= 3 AS gate,
             least(CAST(floor(u1 * (n - 1)) AS INT) + 1, CAST(floor(u2 * (n - 1)) AS INT) + 1) AS p1,
             greatest(CAST(floor(u1 * (n - 1)) AS INT) + 1, CAST(floor(u2 * (n - 1)) AS INT) + 1) AS p2
      FROM d
    )
    SELECT doc_id, gate AS fim_applied,
           CASE WHEN gate THEN
             '<PRE>' || substring(text, 1, p1) || '<SUF>' ||
             substring(text, p2 + 1, n - p2) || '<MID>' ||
             substring(text, p1 + 1, p2 - p1)
           ELSE text END AS text
    FROM sp
    """,
)
def pack_fim_transform(spark, sf_dir):
    """Fill-in-the-middle pretraining transform
    (packing.py:fim_transform, Bavarian et al. 2022): half the docs
    rewritten to PSM sentinel order with md5-derived gate and split
    points — pure string algebra on the scan, no shuffle, engine-
    replayable end to end."""
    from cm_well_spark.operators.packing import fim_transform
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return fim_transform(docs, fim_rate=0.5)


@register(
    "pack_ul2_mixture",
    oracle=(
        _span_sql(
            "doc_id < 300 AND substring(md5('ul2:' || doc_id), 1, 4) < '5555'",
            "ul2r", 8, 3, "6666", "R",
        )
        + " UNION ALL "
        + _span_sql(
            "doc_id < 300 AND substring(md5('ul2:' || doc_id), 1, 4) >= '5555'"
            " AND substring(md5('ul2:' || doc_id), 1, 4) < 'aaaa'",
            "ul2x", 16, 8, "zzzz", "X",
        )
        + f""" UNION ALL
    SELECT doc_id, 'S' AS denoiser,
           array_to_string(list_concat(w[1:p], ['<extra_id_0>']), ' ') AS inputs,
           array_to_string(list_concat(list_concat(['<extra_id_0>'], w[p + 1 : n]),
                                       ['<extra_id_1>']), ' ') AS targets
    FROM (
      SELECT doc_id, w, n,
             CAST(floor((('0x' || substring(md5('ul2s:' || doc_id), 1, 12))::BIGINT + 0.5)
                  / {float(16**12) + 1.0} * (n - 1)) AS INT) + 1 AS p
      FROM (SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n
            FROM documents
            WHERE doc_id < 300 AND substring(md5('ul2:' || doc_id), 1, 4) >= 'aaaa')
    )"""
    ),
)
def pack_ul2_mixture(spark, sf_dir):
    """UL2 mixture-of-denoisers (packing.py:ul2_mixture, Tay et al.
    2022): thirds-assigned R/X span corruption + S prefix-LM, every
    draw md5-derived — the oracle replays all three branches token for
    token."""
    from cm_well_spark.operators.packing import ul2_mixture
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return ul2_mixture(docs)


@register(
    "pack_span_corruption",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id < 300
    ),
    c AS (
      SELECT doc_id, w, n,
             list_filter(range(0, CAST(ceil(n / 8.0) AS BIGINT)),
               c -> substring(md5('t5:' || doc_id || ':' || c), 1, 4) < '6666'
                    AND c * 8 < n) AS cands
      FROM d
    )
    SELECT doc_id,
           coalesce(array_to_string(list_filter(list_transform(range(0, n), i ->
             CASE WHEN len(list_filter(cands, c2 -> c2 * 8 = i)) > 0
                  THEN '<extra_id_' || len(list_filter(cands, c2 -> c2 * 8 < i)) || '>'
                  WHEN len(list_filter(cands,
                           c2 -> c2 * 8 <= i AND i < c2 * 8 + 3)) > 0
                  THEN ''
                  ELSE w[i + 1] END),
             t -> t <> ''), ' '), '') AS inputs,
           array_to_string(list_append(
             list_transform(cands, c2 ->
               '<extra_id_' || len(list_filter(cands, c3 -> c3 < c2)) || '> ' ||
               array_to_string(w[c2 * 8 + 1 : c2 * 8 + 3], ' ')),
             '<extra_id_' || len(cands) || '>'), ' ') AS targets
    FROM c
    """,
)
def pack_span_corruption(spark, sf_dir):
    """T5 span-corruption example builder (packing.py:span_corruption,
    Raffel et al. 2020): stride-8 candidate grid, 3-token spans, md5
    gate at rate*stride/span_len = 0x0666/0x10000 — masked spans become
    <extra_id_k> sentinels in inputs, targets lists sentinel + original
    tokens + closing sentinel. One projection of array algebra; the
    oracle replays it token for token."""
    from cm_well_spark.operators.packing import span_corruption
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return span_corruption(docs, rate=0.15, span_len=3, stride=8)


@register(
    "corpus_kl_divergence",
    oracle=f"""
    WITH wa AS (
      SELECT unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 0
    ), wb AS (
      SELECT unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 1
    ),
    ca AS (SELECT tok, count(*) AS ca FROM wa WHERE tok <> '' GROUP BY tok),
    cb AS (SELECT tok, count(*) AS cb FROM wb WHERE tok <> '' GROUP BY tok),
    j AS (
      SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
      FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
    ),
    tot AS (SELECT count(*) AS v, sum(ca) AS na, sum(cb) AS nb FROM j)
    SELECT CAST(v AS BIGINT) AS vocab_size, CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(sum(((ca + 0.5) / (na + 0.5 * v)) *
                     log2(((ca + 0.5) / (na + 0.5 * v)) /
                          ((cb + 0.5) / (nb + 0.5 * v)))), 6) AS kl_bits
    FROM j, tot GROUP BY v, na, nb
    """,
)
def corpus_kl_divergence(spark, sf_dir):
    """Smoothed unigram KL(A || B) between the even- and odd-doc_id
    halves (text.py:corpus_kl_divergence) — the distribution-shift
    diagnostic beside corpus overlap's verbatim-repeat estimate; one
    vocabulary-sized full-outer join + one sum."""
    from cm_well_spark.operators.text import corpus_kl_divergence
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return corpus_kl_divergence(
        docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)
    )


@register(
    "corpus_expectations",
    oracle="""
    WITH n AS (SELECT count(*) AS n_checked FROM documents)
    SELECT rule, n_checked, v AS n_violations,
           round(1.0 - v * 1.0 / n_checked, 6) AS pass_rate
    FROM (
      SELECT 'text_not_null' AS rule,
             (SELECT count(*) FROM documents WHERE text IS NULL) AS v
      UNION ALL
      SELECT 'text_nonempty',
             (SELECT count(*) FROM documents WHERE text IS NULL OR length(text) = 0)
      UNION ALL
      SELECT 'n_chars_consistent',
             (SELECT count(*) FROM documents
              WHERE text IS NULL OR n_chars IS NULL OR n_chars <> length(text))
      UNION ALL
      SELECT 'lang_known',
             (SELECT count(*) FROM documents
              WHERE lang IS NULL OR lang NOT IN ('en', 'de', 'fr', 'es', 'zh'))
      UNION ALL
      SELECT 'doc_id_unique',
             (SELECT count(*) - count(DISTINCT doc_id) FROM documents)
    ), n
    """,
)
def corpus_expectations(spark, sf_dir):
    """Pre-commit data-quality gate (curation.py:expectations_report,
    Deequ-style): every rule's violation count from ONE map-side
    aggregate over the scan; uniqueness via a distinct-agg. The corpus
    sibling of the store's W7 consistency audit."""
    from cm_well_spark.operators.curation import expectations_report
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return expectations_report(
        docs,
        {
            "text_not_null": F.col("text").isNotNull(),
            "text_nonempty": F.length("text") > 0,
            "n_chars_consistent": F.col("n_chars") == F.length("text"),
            "lang_known": F.col("lang").isin("en", "de", "fr", "es", "zh"),
        },
        unique_cols=("doc_id",),
    )


@register(
    "similarity_binary_rerank",
    oracle=_BINCODE_SQL
    + """
    , q AS (SELECT code AS qc, vec_id AS qid FROM codes ORDER BY vec_id LIMIT 1),
    short AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(code) + 1),
                   j -> bit_count(xor(code[j], qc[j])))) AS h
      FROM codes, q
      ORDER BY h ASC, vec_id ASC LIMIT 100
    ),
    qv AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings ORDER BY vec_id LIMIT 1
    )
    SELECT e.vec_id, round(list_cosine_similarity(
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv.v), 6) AS cosine
    FROM embeddings e JOIN short USING (vec_id), qv
    ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
)
def similarity_binary_rerank(spark, sf_dir):
    """Two-stage binary retrieval (similarity.py:binary_rerank_topk):
    Hamming-100 shortlist over packed sign codes, exact float cosine
    re-rank to top-10. Deterministic end to end, so the oracle replays
    BOTH stages."""
    from cm_well_spark.operators.similarity import binary_rerank_topk
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return binary_rerank_topk(embs, _query_vec(spark, sf_dir), k=10, shortlist=100)


@register(
    "corpus_datacard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS tok,
             md5({_NORM_SQL.format(c='text')}) AS h
      FROM documents
    ),
    main AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS n_tokens,
             round(avg(tok), 6) AS avg_tokens,
             quantile_cont(tok, 0.5) AS p50_tokens
      FROM base
    ),
    langs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_langs,
             max(struct_pack(c := c, l := lang)).l AS top_lang,
             round(max(struct_pack(c := c, l := lang)).c * 1.0 / sum(c), 6)
               AS top_lang_frac
      FROM (SELECT lang, count(*) AS c FROM base GROUP BY lang)
    ),
    dups AS (
      SELECT round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
               AS exact_dup_rate
      FROM (SELECT h, count(*) AS c FROM base GROUP BY h)
    )
    SELECT * FROM main, langs, dups
    """,
)
def corpus_datacard(spark, sf_dir):
    """One-row dataset data card (curation.py:corpus_datacard): doc and
    token totals, median length, language concentration, exact-dup
    rate — everything reduces at the scan, text never moves."""
    from cm_well_spark.operators.curation import corpus_datacard
    from cm_well_spark.sources import tables as tbl

    return corpus_datacard(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "text_char_entropy",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS t
      FROM documents WHERE doc_id < 300
    ),
    ch AS (
      SELECT doc_id, substring(t, u.i, 1) AS ch
      FROM d, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) u
      WHERE substring(t, u.i, 1) <> ''
    ),
    c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
    p AS (SELECT doc_id, sum(c) AS n, -sum(c * log2(c)) AS part FROM c GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           round(log2(n) + part / n, 6) AS char_entropy
    FROM p
    """,
)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per doc (text.py:char_entropy,
    the degenerate-repetition gate): one explode + two map-side-combining
    aggregations; H regrouped to log2(N) - sum(c*log2 c)/N so no totals
    join. Exact log2 arithmetic -> full oracle."""
    from cm_well_spark.operators.text import char_entropy
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return char_entropy(docs)


@register(
    "text_memorization_risk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ),
    grams AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(w[u.i + 1 : u.i + 16], ' ')) AS span_hash
      FROM d, LATERAL (
        SELECT unnest(range(greatest(len(w) - 16, 0) + 1)) AS i
      ) u
    ),
    recurring AS (
      SELECT span_hash FROM grams GROUP BY span_hash
      HAVING count(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT g.doc_id, count(*) AS n_dup
      FROM grams g JOIN recurring r USING (span_hash) GROUP BY g.doc_id
    ),
    tot AS (SELECT doc_id, greatest(len(w) - 16 + 1, 0) AS n_grams FROM d)
    SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN t.n_grams > 0
                THEN round(coalesce(dup.n_dup, 0) * 1.0 / t.n_grams, 6)
                ELSE 0.0 END AS dup_frac
    FROM tot t LEFT JOIN dup USING (doc_id)
    """,
)
def text_memorization_risk(spark, sf_dir):
    """Per-doc memorization audit (text.py:memorization_risk): fraction
    of positional 16-grams recurring across >= 2 docs — the triage score
    routing docs to span removal vs drop vs review. duplicated_spans
    output folds to one count per doc; the gram total is a columnar
    size() on the scan."""
    from cm_well_spark.operators.text import memorization_risk
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return memorization_risk(docs, k=16, min_docs=2)


@register(
    "text_compression_ratio",
    oracle=lambda sf_dir: f"""
    WITH twin(doc_id, zip_len, ratio) AS (VALUES {_twin("zlib_values", sf_dir)})
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS raw_len,
           CAST(t.zip_len AS BIGINT) AS zip_len,
           CAST(t.ratio AS DOUBLE) AS ratio
    FROM documents d JOIN twin t USING (doc_id)
    WHERE d.doc_id < 300
    """,
)
def text_compression_ratio(spark, sf_dir):
    """zlib compressibility per doc (text.py:compression_ratio) — the
    entropy-rate proxy filter. Hash-matched (r9) via the twin
    precedent: DEFLATE isn't SQL-expressible but IS deterministic at a
    fixed level, so oracle_twins.py re-derives (zip_len, ratio)
    for the pinned slice with a direct stdlib-zlib pass and inlines
    them as VALUES; raw_len is recomputed from the documents table in
    SQL (octet_length of the UTF-8 encoding), so text mangling still
    mismatches. pytest keeps the repetitive-vs-random ordering
    property."""
    from cm_well_spark.operators.text import compression_ratio
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return compression_ratio(docs)


@register(
    "curation_score_quantiles",
    oracle="""
    SELECT lang, unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS p,
           round(unnest(quantile_cont(nw, [0.1, 0.25, 0.5, 0.75, 0.9])), 6) AS q
    FROM (
      SELECT lang,
             CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) AS nw
      FROM documents
    )
    GROUP BY lang
    """,
)
def curation_score_quantiles(spark, sf_dir):
    """Per-language EXACT word-count quantiles
    (curation.py:score_quantiles) — the calibration table per-stratum
    filter thresholds come from. Spark's sort-based percentile
    interpolates bit-identically to quantile_cont, so the oracle is a
    direct replay."""
    from cm_well_spark.operators.curation import score_quantiles
    from cm_well_spark.operators.text import whitespace_token_count
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return score_quantiles(docs, whitespace_token_count(F.col("text")), by="lang")


@register(
    "index_postings",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS ws
      FROM documents WHERE doc_id < 100
    ),
    w AS (
      SELECT doc_id AS doc, u.i - 1 AS pos, ws[u.i] AS term
      FROM d, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
      WHERE ws[u.i] <> ''
    ),
    pd AS (
      SELECT term, doc, CAST(count(*) AS BIGINT) AS tf,
             array_to_string(list(pos ORDER BY pos), ',') AS positions
      FROM w GROUP BY term, doc
    ),
    tl AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY term)
    SELECT pd.term, pd.doc, pd.tf, pd.positions, tl.df
    FROM pd JOIN tl USING (term)
    """,
)
def index_postings(spark, sf_dir):
    """Inverted-index postings export (indexing.py:build_postings): flat
    (term, doc, tf, positions, df) rows — the search-shard load format
    the reference delegates to its FTS backend (FTSService /
    es.indexer), rebuilt as one posexplode + one (term, doc) aggregate
    + a term-level df join over the already-reduced posting rows."""
    from cm_well_spark.operators.indexing import build_postings
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return build_postings(docs)


@register(
    "graph_label_propagation",
    oracle="""
    WITH raw AS (
      SELECT '/tpch/customer/' || c_custkey AS src,
             '/tpch/nation/' || c_nationkey AS dst FROM customer
      UNION ALL
      SELECT '/tpch/supplier/' || s_suppkey, '/tpch/nation/' || s_nationkey FROM supplier
      UNION ALL
      SELECT '/tpch/nation/' || n_nationkey, '/tpch/region/' || n_regionkey FROM nation
    ),
    sym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
      )
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    l1 AS (SELECT node, label FROM (
        SELECT s.src AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.src
                 ORDER BY count(*) DESC, l.label DESC) AS rn
        FROM sym s JOIN l0 l ON s.dst = l.node
        GROUP BY s.src, l.label
      ) WHERE rn = 1),
    l2 AS (SELECT node, label FROM (
        SELECT s.src AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.src
                 ORDER BY count(*) DESC, l.label DESC) AS rn
        FROM sym s JOIN l1 l ON s.dst = l.node
        GROUP BY s.src, l.label
      ) WHERE rn = 1),
    l3 AS (SELECT node, label FROM (
        SELECT s.src AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.src
                 ORDER BY count(*) DESC, l.label DESC) AS rn
        FROM sym s JOIN l2 l ON s.dst = l.node
        GROUP BY s.src, l.label
      ) WHERE rn = 1)
    SELECT node, label FROM l3
    """,
)
def graph_label_propagation(spark, sf_dir):
    """3-round deterministic synchronous LPA over the membership graph
    (customer/supplier->nation->region): most-frequent neighbor label,
    ties to the largest label, one max(struct) agg per round. Fixed
    rounds make the evolution SQL-replayable — the oracle chains one CTE
    per round, so the hash compare covers the iteration itself."""
    from cm_well_spark.operators.graph import label_propagation

    return label_propagation(_tri(spark, sf_dir), ["inNation", "ofRegion"], iterations=3)


@register(
    "graph_triangles",
    oracle="""
    WITH raw AS (
      SELECT '/tpch/customer/' || c_custkey AS src,
             '/tpch/nation/' || c_nationkey AS dst FROM customer
      UNION ALL
      SELECT '/tpch/supplier/' || s_suppkey, '/tpch/nation/' || s_nationkey FROM supplier
      UNION ALL
      SELECT '/tpch/nation/' || n_nationkey, '/tpch/region/' || n_regionkey FROM nation
      UNION ALL
      SELECT '/tpch/customer/' || c_custkey, '/tpch/region/' || n_regionkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT '/tpch/supplier/' || s_suppkey, '/tpch/region/' || n_regionkey
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    """,
)
def graph_triangles(spark, sf_dir):
    """Undirected triangle count (graph.py:triangle_count_edges,
    compact-forward degree orientation — wedges enumerate at their
    lowest-degree apex, the hub-skew guard). The raw link graph is
    layered (0 triangles), so the entry closes membership one hop:
    x->nation edges composed with nation->region yield an x->region
    edge, making a triangle per customer/supplier — a real workload
    (affiliation closure) and a non-trivial count. Oracle recounts with
    the orientation-free a<b<c self-join, independently derived from
    the raw tables."""
    from cm_well_spark.operators.graph import reference_edges, triangle_count_edges

    tri = _tri(spark, sf_dir)
    xn = reference_edges(tri, ["inNation"])
    nr = reference_edges(tri, ["ofRegion"])
    xr = xn.alias("l").join(
        nr.alias("r"), F.col("l.dst") == F.col("r.src")
    ).select(F.col("l.src").alias("src"), F.col("r.dst").alias("dst"))
    edges = xn.unionByName(nr).unionByName(xr)
    return triangle_count_edges(edges)


@register(
    "graph_pagerank",
    oracle=_LINK_EDGE_SQL
    + """
    , deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS path FROM edges UNION SELECT dst FROM edges),
    r0 AS (SELECT path, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
    r1 AS (__STEP1__),
    r2 AS (__STEP2__),
    r3 AS (__STEP3__)
    SELECT path, ROUND(rank, 6) AS rank FROM r3
    """.replace("__STEP1__", _PR_STEP_SQL.format(prev="r0"))
    .replace("__STEP2__", _PR_STEP_SQL.format(prev="r1"))
    .replace("__STEP3__", _PR_STEP_SQL.format(prev="r2")),
)
def graph_pagerank(spark, sf_dir):
    """3-iteration PageRank over the link graph (graph.py:pagerank).
    Fixed iterations make the whole power iteration deterministic, so
    the oracle replays every round as a chained CTE — the hash compare
    covers the iteration, not just the output shape."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, pagerank

    df = pagerank(_tri(spark, sf_dir), DEFAULT_LINK_FIELDS, iterations=3)
    return df.select("path", F.round("rank", 6).alias("rank"))


@register(
    "graph_sample_neighborhood",
    oracle=_LINK_EDGE_SQL
    + """
    , seeds AS (
      SELECT DISTINCT src FROM li WHERE l_orderkey < 30
    ),
    h1 AS (
      SELECT src, dst FROM (
        SELECT e.src, e.dst,
               row_number() OVER (PARTITION BY e.src
                 ORDER BY md5(concat_ws(':', 'gnn', e.src, e.dst))) AS rn
        FROM edges e JOIN seeds s ON e.src = s.src
      ) WHERE rn <= 2
    ),
    f2 AS (SELECT DISTINCT dst AS src FROM h1),
    h2 AS (
      SELECT src, dst FROM (
        SELECT e.src, e.dst,
               row_number() OVER (PARTITION BY e.src
                 ORDER BY md5(concat_ws(':', 'gnn', e.src, e.dst))) AS rn
        FROM edges e JOIN f2 f ON e.src = f.src
      ) WHERE rn <= 2
    )
    SELECT 1 AS hop, src, dst FROM h1
    UNION ALL
    SELECT 2 AS hop, src, dst FROM h2
    """,
)
def graph_sample_neighborhood(spark, sf_dir):
    """2-hop fanout-(2,2) GraphSAGE-style neighborhood sample from the
    lineitems of the first 30 orders (graph.py:sample_neighborhood).
    Salted-md5 neighbor ranking reproduces bit-for-bit in the oracle's
    row_number windows."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, sample_neighborhood

    inf = _inf(spark, sf_dir)
    seeds = S.search(inf, qp="rdfType::Lineitem,orderkey<30", length=None).select("path")
    return sample_neighborhood(
        _tri(spark, sf_dir), seeds, fanouts=(2, 2), fields=DEFAULT_LINK_FIELDS
    )


@register(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH newd AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 250
      UNION ALL
      SELECT doc_id + 100000000, text FROM documents WHERE doc_id < 5
    ), seend AS (
      SELECT DISTINCT md5({_NORM_SQL.format(c='text')}) AS h
      FROM documents WHERE doc_id < 250
    )
    SELECT n.doc_id,
           CASE WHEN s.h IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS verdict
    FROM (SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS h FROM newd) n
    LEFT JOIN seend s ON n.h = s.h
    """,
)
def dedup_incremental_bloom(spark, sf_dir):
    """Bloom-prefiltered exact incremental dedup (dedup.py:
    incremental_dedup_bloom) on the dedup_incremental_batch split: the
    store compresses to a (block, mask) bitmap, the batch checks
    membership against it, and only maybe-members reach the exact
    verify join. No false negatives, so the oracle is plain exact
    membership — the bitmap only shrinks the probe; its mechanics are
    pytest-pinned (FPR, no-false-negative property)."""
    from cm_well_spark.operators.dedup import incremental_dedup_bloom
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") >= 250).unionByName(
        docs.where(F.col("doc_id") < 5).select((F.col("doc_id") + 100000000).alias("doc_id"), "text")
    )
    seen = docs.where(F.col("doc_id") < 250)
    return incremental_dedup_bloom(new, seen)


@register(
    "curation_classifier_score",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, ng FROM (
        SELECT doc_id, unnest(w) AS ng FROM d
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ng
        FROM d
      ) WHERE ng <> ''
    ),
    bg AS (
      SELECT doc_id, ('0x' || substring(md5(ng), 1, 8))::BIGINT % 256 AS bucket FROM grams
    ),
    wt(bucket, w) AS (VALUES {_CLF_VALUES}),
    m AS (
      SELECT doc_id, avg(w) AS mean_w FROM bg JOIN wt USING (bucket) GROUP BY doc_id
    )
    SELECT doc.doc_id, ROUND(1.0 / (1.0 + exp(-COALESCE(m.mean_w, 0.0))), 6) AS score
    FROM (SELECT doc_id FROM documents) doc LEFT JOIN m USING (doc_id)
    """,
)
def curation_classifier_score(spark, sf_dir):
    """fastText-style linear quality-classifier inference
    (curation.py:linear_classifier_score): hashed unigram+bigram bag
    features x a weight vector riding the plan as a literal, mean-pooled
    through one groupBy, sigmoid'd. The oracle replays the exact model —
    same md5 bucketing, same weights as VALUES rows."""
    from cm_well_spark.operators.curation import linear_classifier_score
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = linear_classifier_score(docs, _CLF_W)
    return df.select("doc_id", F.round("score", 6).alias("score"))


@register(
    "curation_sample_exact_k",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(concat_ws(':', 'strat', doc_id))) AS rk
      FROM documents
    ) WHERE rk <= 7
    """,
)
def curation_sample_exact_k(spark, sf_dir):
    """Exact-quota stratified sample (curation.py:exact_stratified_sample):
    exactly 7 docs per language, selected by salted-md5 rank — the
    oracle replays the same window."""
    from cm_well_spark.operators.curation import exact_stratified_sample
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return exact_stratified_sample(docs, "lang", 7)


@register(
    "curation_train_val_test",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN u < {int(0.9 * (1 << 32))} THEN 'train'
                WHEN u < {int(0.95 * (1 << 32))} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substring(md5(concat_ws(':', 'split', doc_id)), 1, 8))::BIGINT AS u
      FROM documents
    )
    """,
)
def curation_train_val_test(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by md5 hash range
    (curation.py:train_val_test_split) — integer-threshold compares, no
    float boundaries, stable across reprocessing."""
    from cm_well_spark.operators.curation import train_val_test_split
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").select("doc_id")
    return train_val_test_split(docs).select("doc_id", "split")


@register(
    "embedding_pca_project",
    oracle=lambda sf_dir: f"""
    SELECT vec_id, pos, coord + 0.0 AS coord
    FROM (VALUES {_twin("pca_values", sf_dir)}) AS t(vec_id, pos, coord)
    """,
)
def embedding_pca_project(spark, sf_dir):
    """PCA to 8 components over the embeddings table (similarity.py:
    pca_fit/pca_project), surfaced as scalar rows (vec_id, pos, coord)
    via posexplode — array columns break the driver's canonicalizer
    (CORRECTNESS_r09's one red row). Hash-matched (r10, the r9
    FFD/LSH/BPE promotion pattern): the eigendecomposition is
    deterministic given the fixed input (sign-fixed eigenvectors,
    descending-eigenvalue order), so oracle_twins.py re-derives
    the projection with an INDEPENDENT single-pass numpy twin and
    inlines it as a VALUES literal; numpy parity, orthonormality and
    captured-variance ordering stay pytest-pinned. +0.0 on both sides
    normalizes -0.0 for the canonical float format."""
    from cm_well_spark.operators.similarity import pca_fit, pca_project
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    comps, mean = pca_fit(embs, 8)
    proj = pca_project(embs, comps, mean, round_to=6)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("pos", "coord")
    ).select("vec_id", "pos", (F.col("coord") + F.lit(0.0)).alias("coord"))


@register(
    "text_unigram_lm_vocab",
    oracle=lambda sf_dir: f"""
    SELECT * FROM (VALUES {_twin("unigram_vocab_values", sf_dir)})
    AS t(rank, piece, logprob)
    """,
)
def text_unigram_lm_vocab(spark, sf_dir):
    """Unigram-LM tokenizer vocabulary (Kudo 2018, SentencePiece-style)
    learned by hard-EM on the word-frequency table: columnar substring
    seed counts, Viterbi E-step over DISTINCT words (Arrow-batched),
    driver M-step over bounded integer counts, char-preserving prune.
    Hash-matched (r9, BPE-twin precedent): integer counts + total-order
    tie-breaks make the whole EM deterministic, so
    oracle_twins.py re-derives the vocabulary with an
    INDEPENDENT pure-Python learner and inlines it as a VALUES twin;
    tests/test_unigram_lm.py keeps the property pins."""
    from cm_well_spark.operators.unigram_lm import learn_unigram
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    vocab = learn_unigram(docs, vocab_size=48, n_iters=2, max_piece_len=4, seed_size=128)
    return spark.createDataFrame(
        [(i, p, round(lp, 6)) for i, (p, lp) in enumerate(vocab)],
        "rank int, piece string, logprob double",
    )


@register(
    "text_unigram_token_counts",
    oracle=lambda sf_dir: f"""
    WITH twin(doc_id, unigram_tokens) AS (VALUES {_twin("unigram_token_count_values", sf_dir)})
    SELECT d.doc_id, CAST(t.unigram_tokens AS BIGINT) AS unigram_tokens
    FROM documents d JOIN twin t USING (doc_id)
    WHERE d.doc_id < 100
    """,
)
def text_unigram_token_counts(spark, sf_dir):
    """Token counts under the learned unigram-LM vocabulary: Viterbi
    runs once per DISTINCT word (Arrow-batched mapInPandas), counts join
    back to the exploded corpus (AQE broadcast-vs-shuffle, bpe.py:143
    contract). Hash-matched (r9): the independent pure-Python twin
    (oracle_twins.py) re-learns the vocabulary AND
    re-segments every doc; the oracle joins its counts back against the
    documents table for the pinned slice."""
    from cm_well_spark.operators.unigram_lm import learn_unigram, unigram_encode
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    vocab = learn_unigram(docs, vocab_size=48, n_iters=2, max_piece_len=4, seed_size=128)
    return unigram_encode(docs, vocab)


@register("text_script_profile", oracle=_script_oracle_sql())
def text_script_profile(spark, sf_dir):
    """Unicode script composition per document (text.py:script_profile):
    per-script codepoint counts over explicit, engine-identical ranges +
    the dominant script with an alphabetical-first tie-break. The
    routing gate ahead of lang-id in a CC-style pipeline; two codegen'd
    string ops per script, zero shuffle."""
    from cm_well_spark.operators.text import script_profile
    from cm_well_spark.sources import tables as tbl

    return script_profile(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "similarity_hard_negatives",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), a AS (SELECT * FROM e WHERE vec_id < 20)
    SELECT anchor_id, neg_id, cosine, rank FROM (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine,
             CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
                        b.vec_id ASC) AS INT) AS rank
      FROM a JOIN e b ON b.label <> a.label
    ) WHERE rank <= 3
    """,
)
def similarity_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (similarity.py:
    hard_negatives): top-3 most-cosine-similar DIFFERENT-label vectors
    per anchor (anchors = vec_id < 20 — a bounded training batch that
    broadcasts by contract). Exact variant = this oracle; the IVF
    cell-pruned scale path shares the code and is recall-pinned in
    pytest."""
    from cm_well_spark.operators.similarity import hard_negatives
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return hard_negatives(embs, embs.where(F.col("vec_id") < 20), k=3)


@register(
    "dedup_corpus_overlap",
    oracle=f"""
    WITH ash AS (
      SELECT DISTINCT md5(sh) AS h FROM (
        SELECT unnest(list_transform(
                 range(1, greatest(len(w) - 3, 0) + 2),
                 i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM (SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
              FROM documents WHERE doc_id % 2 = 0)
      ) WHERE sh <> ''
    ), bsh AS (
      SELECT DISTINCT md5(sh) AS h FROM (
        SELECT unnest(list_transform(
                 range(1, greatest(len(w) - 3, 0) + 2),
                 i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM (SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
              FROM documents WHERE doc_id % 2 = 1)
      ) WHERE sh <> ''
    ), abk AS (SELECT h FROM ash ORDER BY h LIMIT 256),
       bbk AS (SELECT h FROM bsh ORDER BY h LIMIT 256),
       ubk AS (SELECT h FROM (SELECT h FROM abk UNION SELECT h FROM bbk)
               ORDER BY h LIMIT 256)
    SELECT CAST(256 AS BIGINT) AS k_used,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(sum(CASE WHEN h IN (SELECT h FROM abk)
                          AND h IN (SELECT h FROM bbk)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(sum(CASE WHEN h IN (SELECT h FROM abk)
                           AND h IN (SELECT h FROM bbk)
                     THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS jaccard_est
    FROM ubk
    """,
)
def dedup_corpus_overlap(spark, sf_dir):
    """Corpus-level Jaccard overlap between the even- and odd-doc_id
    halves via bottom-256 shingle-hash sketches (dedup.py:
    corpus_overlap_sketch, Broder 1997): each side reduces to its 256
    smallest distinct md5(3-gram) values (TakeOrderedAndProject — only
    k rows move), estimate = shared fraction of the union's bottom-k.
    md5 ranking makes the whole estimator SQL-replayable."""
    from cm_well_spark.operators.dedup import corpus_overlap_sketch
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return corpus_overlap_sketch(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        k_sketch=256,
    )


@register(
    "curation_cluster_balanced_sample",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    assign AS (
      SELECT vec_id, CAST(cell AS INT) AS cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY list_dot_product(v, sv) DESC, cell DESC) AS rn
        FROM e CROSS JOIN seeds
      ) WHERE rn = 1
    )
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
               ORDER BY md5(concat_ws(':', 'strat', CAST(vec_id AS VARCHAR)))) AS rk
      FROM assign
    ) WHERE rk <= 20
    """,
)
def curation_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling — the diversity-preserving sample a
    pretraining mix wants (equal quota per embedding-space region, not
    per raw frequency): fixed-seed k-means assignment (SQL-replayable,
    similarity.py:kmeans_assign_fixed) composed with the exact
    md5-ranked per-stratum quota (curation.py:exact_stratified_sample).
    Both halves already oracle-checked standalone; this pins the
    composition."""
    from cm_well_spark.operators.curation import exact_stratified_sample
    from cm_well_spark.operators.similarity import kmeans_assign_fixed
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign_fixed(embs, k=8)
    return exact_stratified_sample(assign, "cell", k=20, id_col="vec_id")


@register(
    "curation_temperature_mixture",
    oracle="""
    WITH tok AS (
      SELECT lang AS stratum,
             CAST(sum(len(regexp_extract_all(trim(text), '\\S+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT sum(pow(n_tokens, 0.3)) AS Z FROM tok
    ), q AS (
      SELECT stratum, n_tokens, pow(n_tokens, 0.3) / Z AS qq FROM tok, tot
    ), cap AS (SELECT min(n_tokens / qq) AS T FROM q)
    SELECT stratum, n_tokens,
           round(qq, 6) AS q_share,
           round(qq * T / n_tokens, 6) AS rate
    FROM q, cap
    """,
)
def curation_temperature_mixture(spark, sf_dir):
    """mT5/XLM-R alpha-sampling rates over languages (curation.py:
    temperature_mixture_rates, alpha=0.3): target share ∝ token-share^α
    flattens the distribution toward low-resource strata; the
    binding-stratum cap realizes it exactly as mixture_weights. Fully
    columnar over the bounded lang dimension — the solve feeds
    sample_by_rates in one Catalyst plan."""
    from cm_well_spark.operators.curation import temperature_mixture_rates
    from cm_well_spark.sources import tables as tbl

    return temperature_mixture_rates(
        tbl.load_table(spark, sf_dir, "documents"), alpha=0.3
    )


@register(
    "curation_token_budget",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as'))) AS stop_hits,
             CAST(len(regexp_extract_all(trim(text), '\\S+')) AS BIGINT) AS n_tokens
      FROM documents
    ), scored AS (
      SELECT doc_id, n_tokens,
             round(least((n_alpha * 1.0 / greatest(n_chars, 1)) / 0.7, 1.0) * 0.4
             + least((stop_hits * 1.0 / greatest(n_words, 1)) / 0.3, 1.0) * 0.3
             + (CASE WHEN (n_chars - (n_words - 1)) * 1.0 / n_words BETWEEN 3 AND 10
                     THEN 1.0 ELSE 0.3 END) * 0.2
             + (CASE WHEN n_punct * 1.0 / greatest(n_chars, 1) <= 0.1
                     THEN 1.0 ELSE 0.5 END) * 0.1, 6) AS quality
      FROM q
    ), b AS (
      SELECT *, CAST(floor(quality * 1000) AS INT) AS bucket FROM scored
    ), bs AS (SELECT bucket, sum(n_tokens) AS btok FROM b GROUP BY bucket),
    bp AS (
      SELECT bucket, coalesce(sum(btok) OVER (
               ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bucket_prefix
      FROM bs
    )
    SELECT doc_id, quality, n_tokens, tokens_before FROM (
      SELECT b.doc_id, b.quality, b.n_tokens,
             CAST(bp.bucket_prefix + coalesce(sum(b.n_tokens) OVER (
               PARTITION BY b.bucket
               ORDER BY b.quality DESC, b.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM b JOIN bp USING (bucket)
    ) WHERE tokens_before < 5000
    """,
)
def curation_token_budget(spark, sf_dir):
    """Greedy quality-first selection under a 5000-token budget
    (curation.py:token_budget_select): the data-constrained-scaling
    recipe, planned scale-safe — the only GLOBAL window runs over the
    <=1001-row quality-bucket table; the row-level prefix sum is
    partitioned by bucket. The oracle replays both windows verbatim."""
    from cm_well_spark.operators.curation import token_budget_select
    from cm_well_spark.sources import tables as tbl

    return token_budget_select(tbl.load_table(spark, sf_dir, "documents"), budget=5000)


