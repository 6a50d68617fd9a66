"""Deduplication for large-scale training-data pipelines.

Five dedup families, each expressed for scale:

  exact          md5-of-normalized-text groupBy (one shuffle on a 16-byte
                 key; at 100 TB this is the cheapest possible full-corpus
                 dedup and the first pass before any fuzzy method).
  ngram-jaccard  shingle-explode + self-equi-join on shingle + per-pair
                 intersection counts -> |A∩B| / (|A|+|B|-|A∩B|); the join
                 key is the shingle so co-occurring docs meet without a
                 cross join.
  minhash+LSH    k permutation-free min-hashes from splittable seeded
                 xxhash64; banded into b buckets; candidate pairs meet in
                 a bucket-equi-join; verified by exact jaccard on the
                 (small) candidate set only. The classic Broder scheme —
                 cross-join-free, scales linearly in corpus size.
  simhash        64-bit sign-sum of token hashes; near-dups = hamming
                 distance <= r. Bucketed by 4 16-bit blocks (a pair within
                 hamming<=3 shares at least one block — pigeonhole), so
                 candidates meet in a block-equi-join.
  embedding      cosine >= tau over the embeddings table (see
                 similarity.py for the shared kernels).

Approximate methods (minhash/simhash) are inherently probabilistic: their
registry entries are rows-only, but tests assert recall against the exact
jaccard ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cm_well_spark.operators.graph import connected_components
from cm_well_spark.operators.text import normalize_text, spread_for_cpu
from cm_well_spark.plans.iterative import iter_checkpoint_count, iter_checkpoint_lazy
from cm_well_spark.plans.keyset import restrict

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) documents: (fingerprint,
    n_docs, doc_ids sorted)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def distinct_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-duplicate class."""
    fp = F.md5(normalize_text(F.col(text_col)))
    keep = df.select(fp.alias("fp"), F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + exact jaccard
# ---------------------------------------------------------------------------


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams of the normalized text.

    Built from k shifted slices of the split zipped together (r9: the
    old index-sequence form referenced the normalize+split INSIDE the
    transform lambda, re-evaluating it once PER SHINGLE — O(n^2) regexp
    work on long docs; slices are children of arrays_zip, evaluated
    once per row). arrays_zip null-pads the shorter shifted slices and
    concat_ws skips nulls, reproducing the old truncated-tail-gram
    semantics for docs shorter than k byte for byte."""
    words = F.split(normalize_text(c), " ")
    n = F.size(words)
    m = F.greatest(n - k, F.lit(0)) + 1
    z = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(k)])
    return F.array_distinct(
        F.transform(z, lambda e: F.concat_ws(" ", *[e[str(j)] for j in range(k)]))
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    return spread_for_cpu(df).select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).
    Docs only meet through shared shingles — no cross join.

    `max_shingle_freq` is the skew guard for 100 TB corpora: shingles
    appearing in more docs than this are excluded from CANDIDATE
    GENERATION only (a boilerplate shingle shared by 10M docs would
    otherwise shuffle 10M^2/2 join rows through one key). The jaccard is
    then computed EXACTLY per candidate pair via array_intersect over the
    full shingle sets, so scores are unaffected; the only approximation
    is that a pair whose shared shingles are ALL hot is never considered
    — documented false-negative, standard for production dedup."""
    if max_shingle_freq is not None:
        sh = _shingle_rows(df, text_col, id_col, k)
        hot = (
            sh.groupBy("sh")
            .agg(F.countDistinct("id").alias("n"))
            .where(F.col("n") > max_shingle_freq)
            .select("sh")
        )
        cold = restrict(sh, "sh", hot, anti=True)
        a, b = cold.alias("a"), cold.alias("b")
        cand = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        arrays = spread_for_cpu(df).select(F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("shs"))
        out = (
            cand.join(arrays.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a")), "id_a")
            .join(arrays.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b")), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("shs_a", "shs_b"))
                / F.size(F.array_union("shs_a", "shs_b")),
            )
            .where(F.col("jaccard") >= threshold)
        )
        return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    sh = _shingle_rows(df, text_col, id_col, k)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, num_hashes: int = 64, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """num_hashes min-hashes per doc: h_i(doc) = min over shingles of
    xxhash64(shingle, seed=i). Seeded xxhash64 replaces the classic
    (a*x+b) mod p permutation family — same independence story, one
    JVM-side function.

    Shape: explode shingles ONCE, then one groupBy with num_hashes min
    aggregates (map-side partial agg) — computing the shingle array
    num_hashes times inside nested array expressions measured ~8x slower.

    The aggregate list is built as parsed SQL strings, not Column-object
    chains: num_hashes x (min ∘ xxhash64 ∘ lit ∘ alias) Column calls are
    ~5 py4j round trips each, and the construction alone measured 0.76 s
    at 64 hashes (r11, guide §5 driver latency); one F.expr per hash
    parses the same expression tree in a single round trip."""
    sh = _shingle_rows(df, text_col, id_col, k)
    aggs = [F.expr(f"min(xxhash64(sh, {i})) AS h{i}") for i in range(num_hashes)]
    per_doc = sh.groupBy("id").agg(*aggs)
    sig = ",".join(f"h{i}" for i in range(num_hashes))
    return per_doc.select("id", F.expr(f"array({sig}) AS sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, num_hashes: int | None = None
) -> DataFrame:
    """Band the signature; docs sharing any band-bucket become candidates.
    Bucket join key = (band index, hash of the band slice). Pass
    `num_hashes` when known (every caller that built the signatures
    knows it) — otherwise a one-row Spark job reads the signature
    length (VERDICT r9: avoid that job on the hot path)."""
    n = (
        num_hashes
        if num_hashes is not None
        else signatures.select(F.size("sig").alias("n")).first()["n"]
    )
    rows_per_band = n // bands
    # one parsed SQL string instead of bands x rows_per_band Column-object
    # round trips (r11, guide §5: banding built this way measured 0.60 s
    # of pure driver time at 16 bands) — same expression tree
    slots = ",".join(
        "struct({b} AS band, xxhash64(concat_ws(',', {parts})) AS bucket)".format(
            b=b,
            parts=",".join(
                f"CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = signatures.select(
        "id", F.expr(f"explode(array({slots})) AS bb")
    ).select("id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full LSH pipeline: signatures -> banded buckets -> candidate pairs
    -> exact-jaccard VERIFY on candidates only. Output = verified pairs."""
    cands = lsh_candidate_pairs(
        minhash_signatures(df, num_hashes, k, text_col, id_col), bands, num_hashes=num_hashes
    )
    shingle_sets = spread_for_cpu(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("shs")
    )
    a = shingle_sets.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = shingle_sets.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    out = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("shs_a") + F.size("shs_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash(c: Column) -> Column:
    """64-bit simhash of the normalized token stream: for each bit b,
    sign(sum over tokens of ±1 by token-hash bit b). Pure column algebra
    — no UDF.

    Single-pass form (r9): ONE aggregate folds a 64-slot sign-sum array
    over the token-hash array (the per-token ±1 bit vector unrolls over
    literal shift counts inside the fold lambda), then one zip_with
    against a power-of-two literal array packs the signs into the long.
    The old 64-separate-aggregates form re-evaluated the ENTIRE
    normalize+split+hash pipeline once per bit — 64x the hash work per
    row (every referenced sub-expression inside a Catalyst expression
    tree is re-evaluated per reference; only columns are shared)."""
    words = F.split(normalize_text(c), " ")
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                    for b in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    pow2 = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(64)]
    )
    return F.aggregate(
        F.zip_with(sums, pow2, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, bucketed by 16-bit
    blocks (pigeonhole: hamming<=3 over 4 blocks => >=1 identical block),
    so candidates meet in an equi-join instead of a cross join."""
    sigs = spread_for_cpu(df).select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh"))
    blocks = sigs.select(
        "id",
        "sh",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("blk"), F.shiftrightunsigned("sh", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("val")) for i in range(4)])
        ).alias("b"),
    ).select("id", "sh", "b.blk", "b.val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.val") == F.col("b.val")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def duplicate_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over a near-dup pair list -> (doc_id, cluster),
    cluster = min doc id reachable (singletons label themselves). This is
    the step that turns pairwise near-dup evidence into dedup groups a
    keep-one-representative policy can act on.

    The components come from graph.connected_components (star
    contraction, O(log^2 n) rounds whatever the chain length) over the
    pair edges, plus one left join that labels every row of `nodes` —
    the same shape as fuzzy.fuzzy_clusters and
    similarity.semantic_knn_clusters. Every pair id counts as a graph
    node, including ids not in `nodes`: such an id still links the
    nodes it pairs with, but gets no output row of its own."""
    comps = connected_components(
        pairs.select(
            F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")
        )
    )
    return (
        nodes.select(F.col(id_col).cast("long").alias(id_col))
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("cluster"))
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_span_freq: int | None = None,
) -> DataFrame:
    """Exact duplicated-span detection (the substring-dedup audit of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at word granularity): every position where a k-token span
    recurs across >= min_docs distinct documents -> (doc_id, pos,
    span_hash). Downstream either cuts the spans out of the training
    text or flags the docs for memorization review.

    Shape: positional k-grams explode off the scan (pos rides the
    sequence index), the recurring-span set comes from one groupBy on
    the span hash, and positions meet it with a semi-join — the span
    TEXT never shuffles, only its hash. md5 keeps the key replayable in
    any SQL engine (the oracle contract); swap in xxhash64 for the
    8-byte shuffle key on a real 100 TB run. `max_span_freq` caps
    boilerplate explosions the same way jaccard_pairs guards hot
    shingles (a span in 10M docs is a template, not a leak — report it
    from the aggregate side instead of materializing every site)."""
    # k shifted slices zipped, hashed via an index-aware transform (r9:
    # the index-sequence form re-split the doc once per gram — O(n^2))
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    m = F.greatest(n - k, F.lit(0)) + 1
    z = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(k)])
    grams = F.transform(
        z,
        lambda e, i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", *[e[str(j)] for j in range(k)])).alias("h"),
        ),
    )
    spans = spread_for_cpu(df).select(F.col(id_col).alias("id"), F.explode(grams).alias("g")).select(
        "id", F.col("g.pos").alias("pos"), F.col("g.h").alias("span_hash")
    )
    hot = spans.groupBy("span_hash").agg(F.countDistinct("id").alias("n_docs"))
    recurring = hot.where(F.col("n_docs") >= min_docs)
    if max_span_freq is not None:
        recurring = recurring.where(F.col("n_docs") <= max_span_freq)
    return (
        spans.join(recurring.select("span_hash"), "span_hash", "left_semi")
        .select(F.col("id").alias(id_col), "pos", "span_hash")
    )


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_span_freq: int | None = None,
) -> DataFrame:
    """The DELETION step of Lee et al. 2022 substring dedup: cut every
    word covered by a recurring k-token span out of the training text
    and stitch the survivors back in order -> (id_col, text). Documents
    emptied entirely still appear (text = '') so callers can count them.

    Shape at 100 TB: duplicated_spans does the heavy lifting (positional
    k-gram hashes, one groupBy on the 16-byte hash — span text never
    shuffles). Its output aggregates to ONE row per affected doc (the
    sorted span-start array), which left-joins back to the corpus on the
    doc id; the cut itself is fully columnar — a word is kept iff no
    span start s satisfies s <= idx < s+k, evaluated with higher-order
    array functions over the doc's own words. No corpus reassembly
    shuffle: unaffected docs pass the join untouched, affected docs are
    rewritten in place in the projection. SQL-replayable end to end
    (list_filter over the same start array), so the oracle checks the
    cut itself. Reference: the reference flags duplicate content but has
    no corpus rewriter; this is the training-pipeline extension
    (SURVEY.md pipeline tranche)."""
    spans = duplicated_spans(
        df, k=k, min_docs=min_docs, text_col=text_col, id_col=id_col, max_span_freq=max_span_freq
    )
    starts = spans.groupBy(F.col(id_col).alias("__sid")).agg(
        F.array_sort(F.collect_set("pos")).alias("__starts")
    )
    words = F.split(normalize_text(F.col(text_col)), " ")
    covered = lambda idx: F.exists(  # noqa: E731
        F.col("__starts"), lambda s: (s <= idx) & (idx < s + F.lit(k))
    )
    kept = F.filter(
        F.transform(words, lambda w, i: F.struct(w.alias("w"), i.alias("i"))),
        lambda s: ~covered(s["i"]),
    )
    return (
        df.join(starts, F.col(id_col) == F.col("__sid"), "left")
        .select(
            F.col(id_col),
            F.when(F.col("__starts").isNull(), normalize_text(F.col(text_col)))
            .otherwise(F.concat_ws(" ", F.transform(kept, lambda s: s["w"])))
            .alias(text_col),
        )
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    delimiter: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level dedup with document reassembly (the CCNet/RefinedWeb
    pass: drop every line whose normalized form recurs across >=
    min_docs distinct documents — navigation chrome, cookie banners,
    boilerplate headers — and stitch the survivors back in order).
    Returns (id_col, text) with only documents that kept >= 1 line;
    fully-boilerplate documents drop out, like the C4 pipeline drops
    emptied pages.

    Shape at 100 TB: one posexplode off the scan; the recurring-line
    set is ONE groupBy on the line's md5 (only 16-byte hashes shuffle,
    line text stays in place); survivors anti-join that set by hash and
    reassemble with a single groupBy(id) whose sort rides the
    aggregation (array_sort over (pos, line) structs) — no window, no
    second shuffle of the corpus."""
    lines = spread_for_cpu(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(delimiter), -1)).alias("pos", "line"),
    )
    keyed = lines.withColumn("lh", F.md5(normalize_text(F.col("line"))))
    hot = (
        keyed.groupBy("lh")
        .agg(F.countDistinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("lh")
    )
    kept = keyed.join(hot, "lh", "left_anti")
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                delimiter,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias(text_col)
        )
        .select(F.col("id").alias(id_col), text_col)
    )


def keep_best_representative(
    docs: DataFrame,
    clusters: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-duplicate-cluster representative selection: real pipelines keep
    the BEST doc of each near-dup cluster (highest quality score), not an
    arbitrary member. `clusters` is (id, cluster) from duplicate_clusters;
    `score` is any columnar quality expression over `docs`.

    One plan: score the corpus columnar, broadcast-join the cluster labels
    (bounded: only docs that hit a near-dup pair plus singletons), then a
    max_by struct-aggregate per cluster — ONE shuffle keyed on the cluster
    label, no window sort. Ties break to the smallest doc id via the
    (score, -id) struct ordering so the winner is deterministic across
    partitionings and engines."""
    scored = docs.select(F.col(id_col), score.alias("q"))
    labeled = scored.join(clusters, id_col)
    best = (
        labeled.groupBy("cluster")
        .agg(
            F.max(
                F.struct(
                    F.col("q"),
                    (-F.col(id_col)).alias("neg_id"),
                )
            ).alias("b")
        )
        .select(
            "cluster",
            (-F.col("b.neg_id")).cast("long").alias(id_col),
            F.round("b.q", 6).alias("best_quality"),
        )
    )
    return best


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs an already-ingested corpus
# ---------------------------------------------------------------------------


def incremental_dedup_verdicts(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Dedup verdict for each NEW doc against an already-ingested corpus
    — the steady-state crawl pattern: fresh batches are checked against
    the existing store, never the store against itself. (doc_id, verdict)
    with verdict in ('exact_dup', 'near_dup', 'new'); exact wins when
    both apply.

    Shape at 100 TB: the seen side reduces to its SIGNATURES — a distinct
    md5 column for the exact stage and (id, shingle) rows for the near
    stage — both precomputable once at ingest and reused for every batch
    (this function recomputes them from text for self-containment; feed
    it the signature tables in production). New docs meet seen docs only
    through equal hashes / shared shingles: two equi-joins, no cross
    join, and the batch side is small so AQE broadcasts it. The optional
    `max_shingle_freq` hot-key guard mirrors jaccard_pairs."""
    nrm = F.md5(normalize_text(F.col(text_col)))
    new_h = new_docs.select(F.col(id_col).alias("id"), nrm.alias("h"))
    seen_h = seen_docs.select(nrm.alias("h")).distinct()
    exact = new_h.join(seen_h, "h", "left_semi").select("id").distinct()

    sh_new = _shingle_rows(new_docs, text_col, id_col, k)
    sh_seen = _shingle_rows(seen_docs, text_col, id_col, k)
    if max_shingle_freq is not None:
        hot = (
            sh_seen.groupBy("sh")
            .agg(F.countDistinct("id").alias("n"))
            .where(F.col("n") > max_shingle_freq)
            .select("sh")
        )
        sh_seen = restrict(sh_seen, "sh", hot, anti=True)
        sh_new = restrict(sh_new, "sh", hot, anti=True)
    sz_new = sh_new.groupBy("id").agg(F.count("*").alias("sz_n"))
    sz_seen = sh_seen.groupBy("id").agg(F.count("*").alias("sz_s"))
    inter = (
        sh_new.alias("a")
        .join(sh_seen.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .groupBy(F.col("a.id").alias("id_n"), F.col("b.id").alias("id_s"))
        .agg(F.count("*").alias("n_common"))
    )
    near = (
        inter.join(sz_new.select(F.col("id").alias("id_n"), "sz_n"), "id_n")
        .join(sz_seen.select(F.col("id").alias("id_s"), "sz_s"), "id_s")
        .where(
            F.col("n_common") / (F.col("sz_n") + F.col("sz_s") - F.col("n_common"))
            >= threshold
        )
        .select(F.col("id_n").alias("id"))
        .distinct()
    )
    verdict = (
        F.when(F.col("__exact").isNotNull(), F.lit("exact_dup"))
        .when(F.col("__near").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return (
        new_docs.select(F.col(id_col).alias("id"))
        .join(exact.withColumn("__exact", F.lit(1)), "id", "left")
        .join(near.withColumn("__near", F.lit(1)), "id", "left")
        .select(F.col("id").alias(id_col), verdict.alias("verdict"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """The surviving rows of the new batch: everything not exact- or
    near-duplicated against the seen corpus (see
    incremental_dedup_verdicts for the plan shape)."""
    v = incremental_dedup_verdicts(
        new_docs, seen_docs, threshold, k, text_col, id_col, max_shingle_freq
    )
    keep = v.where(F.col("verdict") == "new").select(id_col)
    return new_docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental exact dedup: membership against a compact
# bitmap instead of a join against the store
# ---------------------------------------------------------------------------


def _bloom_positions(key: Column, k_hashes: int, m_bits: int) -> Column:
    """array<long> of the k bit positions for a key: position_i =
    xxhash64(key, i) mod m — k independent JVM-side hashes, no Python."""
    return F.array(
        *[F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k_hashes)]
    )


def bloom_bitmap(
    keys: DataFrame, key_col: str = "h", m_bits: int = 1 << 23, k_hashes: int = 5
) -> DataFrame:
    """Bloom filter of a key column as a (block, mask) long-pair table —
    at most m_bits/64 rows regardless of key count. One explode of the k
    positions per key and one groupBy(block).bit_or: partial aggregation
    ORs map-side, so the shuffle carries at most m_bits/64 rows per task.

    This is the classic store-side dedup accelerator (Spark's own
    runtime BloomFilterAggregate plays the same trick for join pruning):
    the 100 TB store compresses to a bitmap sized by its KEY CARDINALITY
    (m ≈ 14.4 bits/key for 1% FPR at k=10; m=2^30 covers ~75M keys —
    16M bitmap rows, ~256 MB), which every executor can hold, while the
    store's key table itself never re-shuffles per batch."""
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col), k_hashes, m_bits)).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("block"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("block")
        .agg(F.bit_or("m").alias("mask"))
    )


def bloom_maybe_member(
    df: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    id_col: str,
    m_bits: int = 1 << 23,
    k_hashes: int = 5,
) -> DataFrame:
    """(id, maybe) — maybe=false is DEFINITELY absent (no false
    negatives); maybe=true needs an exact verify. One explode to k
    position rows, one equi-join against the bitmap on block, one
    groupBy(id) bool_and. The bitmap side is broadcast when m_bits
    bounds it under ~16 MB (a parameter-gated hint, not a data guess);
    larger filters join partitioned and AQE plans it."""
    pos = df.select(
        F.col(id_col).alias("id"),
        F.explode(_bloom_positions(F.col(key_col), k_hashes, m_bits)).alias("pos"),
    ).select(
        "id",
        F.shiftright("pos", 6).alias("block"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("m"),
    )
    bm = F.broadcast(bitmap) if m_bits <= (1 << 23) else bitmap
    hit = F.coalesce(F.col("mask").bitwiseAND(F.col("m")) != 0, F.lit(False))
    return (
        pos.join(bm, "block", "left")
        .select("id", hit.alias("hit"))
        .groupBy("id")
        .agg(F.bool_and("hit").alias("maybe"))
    )


def incremental_dedup_bloom(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 23,
    k_hashes: int = 5,
) -> DataFrame:
    """Exact incremental dedup with a Bloom prefilter: (doc_id, verdict)
    with verdict in ('exact_dup', 'new').

    The steady-state crawl join-avoidance pattern: most of a fresh batch
    is NEW, so joining every batch doc against the store's key table
    wastes a full shuffle on rows that match nothing. Instead the store
    compresses once into a Bloom bitmap (see bloom_bitmap); each batch
    checks membership against the bitmap (broadcast/equi-join, no
    store-side shuffle) and only the maybe-members — true dups plus the
    FPR-sized sliver of false positives — proceed to the exact verify
    semi-join. Bloom filters have NO false negatives, so the verdict is
    exactly the exact-join answer; the bitmap only shrinks the probe.

    Verdicts are on the whole-document fingerprint (md5 of normalized
    text — text.py:doc_fingerprint), matching incremental_dedup's exact
    stage."""
    from cm_well_spark.operators.text import normalize_text

    nrm = F.md5(normalize_text(F.col(text_col)))
    new_h = new_docs.select(F.col(id_col).alias("id"), nrm.alias("h"))
    seen_h = seen_docs.select(nrm.alias("h")).distinct()
    bitmap = bloom_bitmap(seen_h, "h", m_bits, k_hashes)
    maybe = bloom_maybe_member(new_h, "h", bitmap, "id", m_bits, k_hashes)
    candidates = new_h.join(
        maybe.where(F.col("maybe")).select("id"), "id", "left_semi"
    )
    verified = candidates.join(seen_h, "h", "left_semi").select("id").distinct()
    return (
        new_h.select("id")
        .join(verified.withColumn("__dup", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("__dup").isNotNull(), F.lit("exact_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-level overlap estimation: bottom-k sketch over shingle hashes
# ---------------------------------------------------------------------------


def _kmv_threshold(n_est: int, k_sketch: int, safety: float) -> str | None:
    """Hex-prefix threshold for the KMV prefilter: md5 values are uniform
    in the 128-bit space, so the k_sketch smallest distinct hashes all lie
    below ~(safety*k/n) of the space with overwhelming probability. Keep
    the comparison on the first 8 hex chars (lexicographic == numeric for
    fixed-width lowercase hex). Returns None when no filtering helps
    (small corpus: expected survivors already ~everything)."""
    if n_est <= 0:
        return None
    frac = (safety * k_sketch) / float(n_est)
    if frac >= 1.0:
        return None
    return format(max(1, min(16**8 - 1, int(frac * 16**8))), "08x")


def _bottom_k_sketch(
    df: DataFrame,
    k_sketch: int,
    shingle_k: int,
    text_col: str,
    prefilter_safety: float = 8.0,
    plan_probe: dict | None = None,
) -> DataFrame:
    """Exact bottom-k distinct shingle-hash sketch of one corpus, built
    scale-first:

      1. one cheap pass estimates the distinct-hash count (HLL partial
         aggregate — map-side sketches, a few KB merged at the driver;
         nothing wide moves);
      2. a KMV-style uniform-hash prefilter `h < t` (t sized so ~safety*k
         distinct hashes survive) runs BEFORE the distinct, so the
         exchange under the top-k carries only the bounded residue — not
         every distinct shingle of the corpus;
      3. if fewer than k_sketch distinct hashes survive (HLL under-
         estimate or a tiny corpus), the threshold loosens 16x and
         retries, degenerating to the unfiltered distinct+top-k — so the
         result is always the EXACT bottom-k (>= k survivors below t
         implies the k smallest distinct hashes are all below t).

    The returned k-row frame is iter_checkpoint'ed: downstream
    compositions (union-k / semi-join) reuse the materialized k rows
    instead of re-running the corpus scan per subtree."""
    # spread first: the sketch pays the shingle explode twice (estimate
    # pass + filtered pass), so a one-partition local scan must not run
    # it single-task; at real scale the scan is already wide and this is
    # a no-op (text.py:spread_for_cpu).
    hashes = (
        spread_for_cpu(df)
        .select(F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh"))
        .where(F.col("sh") != "")
        .select(F.md5("sh").alias("h"))
    )
    n_est = hashes.agg(F.approx_count_distinct("h").alias("n")).first()["n"]
    safety = prefilter_safety
    while True:
        t = _kmv_threshold(n_est, k_sketch, safety)
        if t is None:
            sketch = hashes.distinct().orderBy("h").limit(k_sketch)
            if plan_probe is not None:
                plan_probe.setdefault("threshold", None)
                plan_probe.setdefault("residue", sketch)
            return sketch.transform(iter_checkpoint_lazy)
        residue = hashes.where(F.col("h") < t).distinct()
        if plan_probe is not None:
            plan_probe["threshold"] = t
            plan_probe["residue"] = residue
        # bounded action: expected ~safety*k rows; >= k distinct below t
        # guarantees the global bottom-k is inside the residue (exact).
        # The count rides the residue's own materialization job (r11);
        # the k-row cut stays lazily checkpointed — its blocks land
        # inside the caller's first composition action, and every later
        # consumer (union-k, semi-join) reads blocks, not the corpus.
        materialized, n_residue = iter_checkpoint_count(residue)
        if n_residue >= k_sketch:
            return iter_checkpoint_lazy(materialized.orderBy("h").limit(k_sketch))
        safety *= 16.0


def corpus_overlap_sketch(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    k_sketch: int = 256,
    shingle_k: int = 3,
    text_col: str = "text",
    prefilter_safety: float = 8.0,
) -> DataFrame:
    """Corpus-level Jaccard between two corpora's shingle sets, estimated
    from bottom-k sketches (Broder 1997 / Cohen-Kaplan bottom-k): each
    side reduces to its k_sketch smallest distinct md5(shingle) values;
    the estimate is |{h in bottom-k(A u B) : h in both sketches}| /
    |bottom-k(A u B)|.

    The answer to "how much does corpus B overlap what we already have?"
    WITHOUT the full distinct-intersection join. Each side costs one HLL
    estimate pass plus one KMV-prefiltered scan (see _bottom_k_sketch):
    the `h < t` prefilter runs before the distinct, so the exchange under
    the top-k carries only ~safety*k rows, not the corpus's whole
    distinct shingle set; the k-row sketches are checkpointed so the
    union-k / semi-join composition never re-scans a corpus. The result
    is the exact bottom-k (loosen-and-retry guards the prefilter), so
    md5 ranking keeps the whole estimator SQL-replayable, union-bottom-k
    and all.

    Output: one row (k_used, n_union, n_shared, jaccard_est)."""

    # The two sides are independent two-action pipelines (HLL estimate,
    # then residue count) — build them from two driver threads so side
    # B's jobs back-fill the cluster while side A's tail finishes
    # (guide §2.6 overlap independent jobs; r11: 4 serial full text
    # scans became 2 overlapped pairs — 2.4 -> 1.7 s at sf0.1,
    # 4.2 -> 3.5 s at sf1 where each scan already fills the box). Each
    # sketch's VALUE is scheduling-independent (exact bottom-k).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(
            _bottom_k_sketch, corpus_a, k_sketch, shingle_k, text_col, prefilter_safety
        )
        fb = pool.submit(
            _bottom_k_sketch, corpus_b, k_sketch, shingle_k, text_col, prefilter_safety
        )
        a, b = fa.result(), fb.result()
    # bottom-k of the union = k smallest of the two sketches' union —
    # 2k rows, exact by the sketch algebra (no corpus re-scan)
    union_k = a.unionByName(b).distinct().orderBy("h").limit(k_sketch)
    shared = a.join(b, "h", "left_semi")
    est = union_k.join(shared.withColumn("__s", F.lit(1)), "h", "left").agg(
        F.count("*").cast("long").alias("n_union"),
        F.sum(F.when(F.col("__s").isNotNull(), 1).otherwise(0)).cast("long").alias("n_shared"),
    )
    return est.select(
        F.lit(k_sketch).cast("long").alias("k_used"),
        "n_union",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_union"), 6).alias("jaccard_est"),
    )
