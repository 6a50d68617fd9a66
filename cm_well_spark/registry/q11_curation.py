"""Curation: dup clustering, sampling, decontamination, filtering.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM d
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shs, b.shs)) * 1.0
            / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.5
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS id, doc_id AS r FROM d
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
    """,
)
def dedup_cluster_components(spark, sf_dir):
    """Near-dup pair list -> connected components (graph.py's star
    contraction, then a left join that labels singletons) -> (doc_id,
    cluster). The dedup step that turns pairwise evidence into
    keep-one-representative groups.
    Oracle = transitive closure via DuckDB recursive CTE."""
    from cm_well_spark.operators.dedup import duplicate_clusters, jaccard_pairs
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = jaccard_pairs(docs, threshold=0.5)
    return duplicate_clusters(docs, pairs)


@register(
    "curation_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substring(md5('cmw:' || doc_id), 1, 4) <
          CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN 'zzzz' WHEN 'fr' THEN '4000' END
    """,
)
def curation_stratified_sample(spark, sf_dir):
    """Deterministic hash-split stratified sampling (en 50% / de 100% /
    fr 25%, other strata dropped): a pure map-side filter, reproducible
    across partitioning, retries and engines — the md5-prefix threshold
    is the contract, so DuckDB reproduces the exact membership."""
    from cm_well_spark.operators.curation import stratified_sample
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", {"en": 0.5, "de": 1.0, "fr": 0.25}).select(
        "doc_id", "lang"
    )


@register(
    "curation_contamination",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id >= 50
    ), bench AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), cs AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh
      FROM corp
    ), bs AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh
      FROM bench
    )
    SELECT doc_id, count(*) AS n_hits FROM cs JOIN bs USING (sh) GROUP BY doc_id
    """,
)
def curation_contamination(spark, sf_dir):
    """Benchmark decontamination check: corpus docs (id>=50) sharing word
    3-grams with the benchmark set (id<50) meet through a broadcast
    shingle equi-join — (doc_id, n_hits)."""
    from cm_well_spark.operators.curation import contamination_overlap
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return contamination_overlap(
        docs.where(F.col("doc_id") >= 50), docs.where(F.col("doc_id") < 50), k=3
    )


@register(
    "curation_quality_filter",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as'))) AS stop_hits
      FROM documents
    ), r AS (
      SELECT doc_id, n_words,
             (n_chars - (n_words - 1)) * 1.0 / n_words AS mean_word_len,
             n_punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
             n_alpha * 1.0 / greatest(n_chars, 1) AS alpha_ratio,
             stop_hits * 1.0 / greatest(n_words, 1) AS stop_ratio
      FROM q
    ), scored AS (
      SELECT doc_id, n_words,
             least(alpha_ratio / 0.7, 1.0) * 0.4
             + least(stop_ratio / 0.3, 1.0) * 0.3
             + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.3 END) * 0.2
             + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
      FROM r
    )
    SELECT doc_id,
           CASE WHEN n_words < 5 THEN 'too_short'
                WHEN n_words > 100000 THEN 'too_long'
                WHEN quality < 0.5 THEN 'low_quality'
                ELSE 'ok' END AS reason,
           CASE WHEN n_words < 5 THEN FALSE
                WHEN n_words > 100000 THEN FALSE
                WHEN quality < 0.5 THEN FALSE
                ELSE TRUE END AS keep
    FROM scored
    """,
)
def curation_quality_filter(spark, sf_dir):
    """C4/Gopher-style rule filter verdicts (doc_id, reason, keep): hard
    length bounds + composite quality score threshold, first failing rule
    labels the doc. All columnar — the oracle replicates the exact score
    formula in SQL."""
    from cm_well_spark.operators.curation import quality_filter
    from cm_well_spark.sources import tables as tbl

    return quality_filter(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "sparql_lang_filter",
    oracle="""
    SELECT 'http://example.org/nation/' || n_nationkey AS s,
           lower(n_name) AS n
    FROM nation
    """,
)
def sparql_lang_filter(spark, sf_dir):
    """J5 lang-tagged literals end-to-end: Turtle with "..."@en / "..."@fr
    names parses to lang-carrying triples (S6), then LANGMATCHES(LANG(?n),
    "fr") selects the French ones — the lang column rides the same pruned
    scans as the value."""
    from cm_well_spark.operators.sparql import sparql_query
    from cm_well_spark.sources.rdf_formats import parse_rdf_documents
    from cm_well_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "nation").collect()
    lines = ["@prefix ex: <http://example.org/> .", "@prefix n: <http://example.org/nation/> ."]
    for r in rows:
        lines.append(
            f'n:{r["n_nationkey"]} ex:name "{r["n_name"]}"@en, "{r["n_name"].lower()}"@fr .'
        )
    docs = spark.createDataFrame([("\n".join(lines),)], ["value"])
    triples = (
        parse_rdf_documents(docs, "ttl")
        .withColumn("num", F.lit(None).cast("double"))
        .withColumn("current", F.lit(True))
    )
    return sparql_query(
        triples,
        'SELECT ?s ?n WHERE { ?s <http://example.org/name> ?n . '
        'FILTER(LANGMATCHES(LANG(?n), "fr")) }',
        limit_cap=None,
    )


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, pos - 1 AS pos, round(avg(val), 5) AS centroid FROM (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Per-label embedding centroids via posexplode + (label, pos) avg —
    the vector aggregation shape that never materializes a cell's members
    in one row (the IVF centroid step uses the same kernel)."""
    from cm_well_spark.operators.similarity import label_centroids
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    out = label_centroids(embs)
    return out.select("label", "pos", F.round("centroid", 5).alias("centroid"))


@register(
    "curation_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(regexp_extract_all(trim(text), '\\S+'))), 4) AS avg_tokens,
           min(len(regexp_extract_all(trim(text), '\\S+'))) AS min_tokens,
           max(len(regexp_extract_all(trim(text), '\\S+'))) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def curation_token_stats(spark, sf_dir):
    """Per-language token-count statistics — the corpus-sizing report a
    data pipeline runs before mixing ratios; partial-aggregated one-shuffle
    groupBy over a columnar token count."""
    from cm_well_spark.operators.text import whitespace_token_count
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", whitespace_token_count(F.col("text")).alias("t"))
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("t"), 4).alias("avg_tokens"),
        F.min("t").alias("min_tokens"),
        F.max("t").alias("max_tokens"),
    )


@register(
    "sparql_filter_in",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS s FROM nation
    WHERE n_nationkey IN (3, 7)
    """,
)
def sparql_filter_in(spark, sf_dir):
    """J5 FILTER ?x IN (...) -> Column.isin through the typed num shadow
    for numeric lists (SPARQL 1.1 §17.4.1.9)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?s WHERE { ?s <nationkey> ?k . FILTER(?k IN (3, 7)) }",
        limit_cap=None,
    )


@register(
    "events_session_agg",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_agg(spark, sf_dir):
    """Gap-based session windows over the events stream (30 min idle gap):
    built-in session_window groupBy; the oracle derives the same islands
    with lag()+cumulative-sum."""
    from cm_well_spark.operators.aggregations import session_window_agg
    from cm_well_spark.sources import tables as tbl

    return session_window_agg(tbl.load_table(spark, sf_dir, "events"), gap="30 minutes")


@register(
    "multimodal_resize_decode",
    oracle="""
    SELECT doc_id AS id,
           2 AS height, 3 AS width, 3 AS channels,
           CAST(13 + 2 * 3 * 3 AS BIGINT) AS n_bytes,
           CAST(doc_id % 256 AS DOUBLE) AS mean_byte,
           true AS ok
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_resize_decode(spark, sf_dir):
    """Multimodal resize plumbing: fake-codec images resized to 2x3 then
    decoded again — the round trip pins payload sizing and mean-byte
    preservation through two Arrow-batched mapInPandas stages."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import decode_images, fake_image, resize_images
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

    imgs = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return decode_images(resize_images(imgs, 2, 3))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS id,
           CAST((doc_id % 6 + 1 + 1) // 2 AS BIGINT) AS n_sampled
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: a fake 'video' of k=doc_id%6+1 concatenated
    IMG1 frames, sampled every 2nd frame -> ceil(k/2) rows per id after
    the mapInPandas explode."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import fake_image, sample_frames
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [
                        b"".join(fake_image(2, 2, 3, f) for f in range(int(i) % 6 + 1))
                        for i in pdf["doc_id"]
                    ],
                }
            )

    vids = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return sample_frames(vids, every_n=2).groupBy("id").agg(F.count("*").alias("n_sampled"))


@register(
    "drain_all_chunks",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path FROM nation
    """,
)
def drain_all_chunks(spark, sf_dir):
    """T8 data-tools Downloader: client-style consume loop until 204,
    chunks unioned — must deliver exactly the feed, no dupes, no gaps."""
    from functools import reduce

    from cm_well_spark.operators.consume import create_consumer, drain

    token = create_consumer(path="/tpch/nation")
    _, chunks = drain(_inf(spark, sf_dir), token, chunk=7, now_ms=_FEED_NOW)
    assert chunks
    return reduce(lambda a, b: a.unionByName(b), chunks).select("path")


@register(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id AS id, 8000 AS sample_rate,
           CAST((doc_id % 5 + 1) * 100 AS INT) AS n_samples,
           round((doc_id % 5 + 1) * 100 / 8000.0, 6) AS duration_s,
           CAST(doc_id % 128 AS DOUBLE) AS rms,
           true AS ok
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """Audio feature extraction plumbing (fake codec): sample-rate /
    duration / RMS through the Arrow-batched mapInPandas seam — constant
    payload makes RMS exactly the fill byte, so the oracle pins the
    decode math."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import extract_audio_features, fake_audio
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [
                        fake_audio(8000, (int(i) % 5 + 1) * 100, int(i) % 128) for i in pdf["doc_id"]
                    ],
                }
            )

    auds = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    out = extract_audio_features(auds)
    return out.select(
        "id", "sample_rate", "n_samples", F.round("duration_s", 6).alias("duration_s"), "rms", "ok"
    )


@register(
    "curation_full_pipeline",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text, md5({_NORM_SQL.format(c='text')}) AS fp
      FROM documents WHERE doc_id >= 50
    ), dedup AS (
      SELECT doc_id, lang, text FROM corpus c
      WHERE doc_id = (SELECT min(doc_id) FROM corpus c2 WHERE c2.fp = c.fp)
    ), q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as'))) AS stop_hits
      FROM dedup
    ), scored AS (
      SELECT doc_id, n_words,
             least((n_alpha * 1.0 / greatest(n_chars, 1)) / 0.7, 1.0) * 0.4
             + least((stop_hits * 1.0 / greatest(n_words, 1)) / 0.3, 1.0) * 0.3
             + (CASE WHEN (n_chars - (n_words - 1)) * 1.0 / n_words BETWEEN 3 AND 10
                     THEN 1.0 ELSE 0.3 END) * 0.2
             + (CASE WHEN n_punct * 1.0 / greatest(n_chars, 1) <= 0.1
                     THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
      FROM q
    ), kept AS (
      SELECT d.doc_id, d.lang, d.text FROM dedup d JOIN scored s ON d.doc_id = s.doc_id
      WHERE s.n_words >= 5 AND s.n_words <= 100000 AND s.quality >= 0.5
    ), kw AS (
      SELECT doc_id, lang, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM kept
    ), bw AS (
      SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), ks AS (
      SELECT doc_id, lang, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh FROM kw
    ), bs AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh FROM bw
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM ks JOIN bs USING (sh)
    ), clean AS (
      SELECT doc_id, lang FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), sampled AS (
      SELECT doc_id, lang FROM clean
      WHERE substring(md5('cmw:' || doc_id), 1, 4) <
            CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN 'zzzz'
                      WHEN 'fr' THEN 'zzzz' WHEN 'es' THEN '4000'
                      WHEN 'zh' THEN '4000' END
    )
    SELECT lang, count(*) AS n_docs FROM sampled GROUP BY lang
    """,
)
def curation_full_pipeline(spark, sf_dir):
    """Flagship training-data curation pipeline — the composed corpus
    build a 100 TB data job runs end-to-end: exact dedup (keep min-id per
    content hash) -> C4-style quality filter -> benchmark n-gram
    decontamination (broadcast shingle join) -> deterministic stratified
    rebalance -> per-language corpus sizes. Each stage is a proven
    operator; the whole thing is ONE Catalyst plan, no driver-side
    materialization between stages."""
    from cm_well_spark.operators.curation import (
        decontaminate,
        quality_filter,
        stratified_sample,
    )
    from cm_well_spark.operators.dedup import distinct_documents
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= 50)
    benchmark = docs.where(F.col("doc_id") < 50)
    # branch-shared frames: deduped feeds the verdicts AND the keep join;
    # kept feeds the shingle scan AND the anti-join base — cache both so
    # the md5-dedup and quality subtrees compute once, not per branch
    deduped = distinct_documents(corpus).cache()
    verdicts = quality_filter(deduped)
    kept = deduped.join(verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi").cache()
    clean = decontaminate(kept, benchmark, k=3, min_hits=1)
    sampled = stratified_sample(
        clean, "lang", {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 0.25, "zh": 0.25}
    )
    return sampled.groupBy("lang").agg(F.count("*").alias("n_docs"))


