"""Training-data pipeline operators: text / dedup / similarity / multimodal.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(trim(text), '\\S+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex, all JVM-side."""
    from cm_well_spark.operators.text import token_counts

    from cm_well_spark.sources import tables as tbl

    return token_counts(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "text_unigram_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(
          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    freqs AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM toks)
    SELECT doc_id,
           round(avg(-log2(n / (SELECT t * 1.0 FROM total))), 6) AS bits_per_token,
           count(*) AS n_tokens
    FROM toks JOIN freqs USING (tok)
    GROUP BY doc_id
    """,
)
def text_unigram_entropy(spark, sf_dir):
    """LM-score proxy: per-doc mean -log2 P(token) under the corpus
    unigram distribution — the cheap quality-filter signal a training
    pipeline thresholds on both tails."""
    from cm_well_spark.operators.text import unigram_cross_entropy

    from cm_well_spark.sources import tables as tbl

    return unigram_cross_entropy(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "text_lang_id",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(lower(text)), ' ') AS words
      FROM documents
    ), scores AS (
      SELECT doc_id,
             list_max([
               {'hits': len(list_filter(words, x -> x IN ('der','die','und','ist','nicht'))), 'lang': 'de'},
               {'hits': len(list_filter(words, x -> x IN ('the','and','of','is','to'))), 'lang': 'en'},
               {'hits': len(list_filter(words, x -> x IN ('el','la','que','es','los'))), 'lang': 'es'},
               {'hits': len(list_filter(words, x -> x IN ('le','la','et','est','les'))), 'lang': 'fr'}
             ]) AS best
      FROM w
    )
    SELECT doc_id,
           CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
           best.hits AS marker_hits
    FROM scores
    """,
)
def text_lang_id(spark, sf_dir):
    """Language ID: marker-word argmax with deterministic tie-break
    (struct-compare max, mirrored by DuckDB struct list_max)."""
    from cm_well_spark.operators.text import lang_id

    from cm_well_spark.sources import tables as tbl

    return lang_id(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL.format(c='text')}) AS fp_doc,
           list_min(list_transform(
             range(1, greatest(length({_NORM_SQL.format(c='text')}) - 7, 1) + 1),
             i -> md5(substr({_NORM_SQL.format(c='text')}, i, 8)))) AS fp_kgram_min
    FROM documents
    """,
)
def text_fingerprints(spark, sf_dir):
    """Document fingerprints: whole-doc md5 + rolling 8-gram min-hash
    (winnowing building block), bit-identical to the SQL oracle."""
    from cm_well_spark.operators.text import fingerprints

    from cm_well_spark.sources import tables as tbl

    return fingerprints(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_groups",
    oracle=f"""
    SELECT md5({_NORM_SQL.format(c='text')}) AS fp,
           count(*) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS ids_csv
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: one shuffle on a 16-byte hash key — the 100 TB first
    pass."""
    from cm_well_spark.operators.dedup import exact_duplicate_groups

    from cm_well_spark.sources import tables as tbl

    g = exact_duplicate_groups(tbl.load_table(spark, sf_dir, "documents"))
    return g.select(
        "fp", "n_docs", F.concat_ws(",", F.transform(F.col("doc_ids"), lambda x: x.cast("string"))).alias("ids_csv")
    )


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM d
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shs, b.shs)) AS n_common,
             len(a.shs) AS sz_a, len(b.shs) AS sz_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(n_common * 1.0 / (sz_a + sz_b - n_common), 6) AS jaccard
    FROM pairs
    WHERE n_common * 1.0 / (sz_a + sz_b - n_common) >= 0.5
    """,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs; docs meet through shared
    shingles (no cross join on the Spark side)."""
    from cm_well_spark.operators.dedup import jaccard_pairs

    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return jaccard_pairs(docs, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    oracle=lambda sf_dir: f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(w[u.i + 1 : u.i + 3], ' ') AS sh
      FROM d, LATERAL (SELECT unnest(range(greatest(len(w) - 3, 0) + 1)) AS i) u
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    cand(id_a, id_b) AS (VALUES {_twin("minhash_cand_values", sf_dir)}),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN g ga ON ga.doc_id = c.id_a
      JOIN g gb ON gb.doc_id = c.id_b AND gb.sh = ga.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.5
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle -> 64 seeded min-hashes -> 16 bands
    -> bucket join -> exact-jaccard verify. Hash-matched (r9): every
    hash is deterministic xxhash64, so oracle_twins.py re-derives the
    banded CANDIDATE pairs with an independent pure-Python XXH64
    (banding is probabilistic in recall, not in value), and the oracle recomputes the exact-jaccard VERIFY from the
    documents table in SQL. Recall-vs-exact stays pytest-pinned."""
    from cm_well_spark.operators.dedup import minhash_dedup_pairs

    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return minhash_dedup_pairs(docs, threshold=0.5)


@register(
    "dedup_simhash",
    oracle=lambda sf_dir: f"""
    WITH sig(doc_id, sh) AS (VALUES {_twin("simhash_sig_values", sf_dir)})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit sign-sum signature, 16-bit block pigeonhole
    buckets, hamming <= 3 verify. Hash-matched (r9, multimodal-dHash
    precedent): the signatures are deterministic xxhash64 sign-sums, so
    oracle_twins.py re-derives them with an independent
    pure-Python XXH64 and the oracle replays BRUTE-FORCE all-pairs
    hamming — a match also proves the pigeonhole banding dropped no
    pair."""
    from cm_well_spark.operators.dedup import simhash_pairs

    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return simhash_pairs(docs, max_hamming=3)


@register(
    "similarity_topk_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1)
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cosine
    FROM e, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def similarity_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (zip_with dot product ->
    TakeOrderedAndProject; the exact ANN baseline)."""
    from cm_well_spark.operators.similarity import brute_force_topk

    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(embs, _query_vec(spark, sf_dir), k=10)


@register(
    "similarity_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({_srp_bucket_sql()} AS BIGINT) AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qb FROM b ORDER BY vec_id LIMIT 1),
    cand AS (
      SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cosine
      FROM b, q WHERE b.bucket = q.qb
    ),
    n AS (SELECT count(*) AS c FROM cand),
    fallback AS (
      SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cosine FROM e, q
    )
    SELECT vec_id, cosine FROM (
      SELECT * FROM cand WHERE (SELECT c FROM n) >= 10
      UNION ALL
      SELECT * FROM fallback WHERE (SELECT c FROM n) < 10
    ) ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def similarity_lsh_topk(spark, sf_dir):
    """SRP-LSH bucketed ANN top-k (scale path). Hash-matched (r9): the
    LCG hyperplanes are deterministic literals, so the DuckDB twin
    replays bucket assignment, the <k recall-guard fallback, and the
    (cosine-6dp DESC, id ASC) ranking exactly — 'approximate' means
    approximate NEAREST NEIGHBORS, not a nondeterministic answer.
    Recall vs brute force stays pytest-pinned."""
    from cm_well_spark.operators.similarity import lsh_topk

    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return lsh_topk(embs, _query_vec(spark, sf_dir), k=10, n_planes=6)


@register("similarity_ivf_topk")
def similarity_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN top-k: probe n_probe of n_cells
    (partition pruning at scale). Rows-only; tests assert recall."""
    from cm_well_spark.operators.similarity import ivf_topk

    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return ivf_topk(embs, _query_vec(spark, sf_dir), k=10, n_cells=8, n_probe=4)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE vec_id < 200)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact pairwise variant for the
    oracle (the SRP-bucketed scale path is cosine_dup_pairs(exact=False),
    recall-tested in pytest). Threshold tuned to the synthetic corpus
    (near-orthogonal vectors, max pairwise cosine ~0.44)."""
    from cm_well_spark.operators.similarity import cosine_dup_pairs

    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    out = cosine_dup_pairs(embs, threshold=0.0, exact=True)
    return out.where(F.col("cosine") >= 0.35)


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS id,
           CAST(doc_id % 8 + 1 AS INT) AS height,
           CAST(doc_id % 5 + 1 AS INT) AS width,
           3 AS channels,
           CAST(13 + (doc_id % 8 + 1) * (doc_id % 5 + 1) * 3 AS BIGINT) AS n_bytes,
           CAST(doc_id % 256 AS DOUBLE) AS mean_byte,
           true AS ok
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_decode(spark, sf_dir):
    """Multimodal plumbing: binary image column decoded via Arrow-batched
    mapInPandas (deterministic fake codec — the real decoder plugs into
    the same seam; oracle checks the full decode round trip)."""
    import pandas as pd

    from cm_well_spark.operators.multimodal import decode_images, fake_image
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [
                        fake_image(int(i) % 8 + 1, int(i) % 5 + 1, 3, int(i) % 256) for i in pdf["doc_id"]
                    ],
                }
            )

    import pyspark.sql.types as T

    imgs = docs.mapInPandas(gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())]))
    return decode_images(imgs)


