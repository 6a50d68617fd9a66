"""Training-data curation operators: sampling, decontamination, filtering.

The corpus-preparation steps a 100 TB LLM data pipeline runs after dedup
(dedup.py) and scoring (text.py):

  stratified_sample   deterministic hash-split Bernoulli sampling with a
                      per-stratum rate (language / source rebalancing).
                      Pure map-side filter: no RNG state, no shuffle, and
                      the same rows survive re-partitioning, retries, and
                      re-runs — the reproducibility property `df.sample()`
                      cannot give across cluster topologies.
  contamination       benchmark n-gram overlap detection (the GPT-3/PaLM
                      style eval-decontamination check): corpus docs that
                      share word k-grams with a benchmark set meet it
                      through a shingle equi-join — the benchmark side is
                      tiny by construction, so it broadcasts; the corpus
                      side streams map-side. No cross join at any scale.
  quality_filter      keep/drop verdicts composing the text.py quality
                      score with hard length bounds (C4/Gopher-style rule
                      filters), emitting the first failing reason per doc
                      so drop-rate dashboards can pivot on it.

All of it is columnar expressions + one broadcast join — no Python in the
row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cm_well_spark.operators.dedup import _shingle_rows
from cm_well_spark.operators.text import quality_features, quality_score, whitespace_token_count
from cm_well_spark.plans.iterative import iter_checkpoint, iter_checkpoint_lazy
from cm_well_spark.plans.keyset import restrict


def _rate_hex(rate: float) -> str:
    """Rate -> 4-hex-char threshold; md5-prefix < threshold keeps the row.
    Lexicographic compare of fixed-width lowercase hex == numeric compare,
    and both Spark and DuckDB render md5 as lowercase hex — so the oracle
    can reproduce the exact sample with string comparison alone. rate>=1
    uses 'zzzz' (> every hex string): keep all."""
    if rate >= 1.0:
        return "zzzz"
    return format(max(int(rate * 65536), 0), "04x")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "cmw",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: keep a row iff the
    first 4 hex chars of md5('<salt>:<id>') sort below the stratum's rate
    threshold. Strata absent from `rates` drop entirely (rate 0)."""
    key = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))), 1, 4
    )
    pairs = []
    for stratum, rate in rates.items():
        pairs.extend([F.lit(stratum), F.lit(_rate_hex(rate))])
    thr = F.create_map(*pairs)[F.col(stratum_col)]
    return df.where(thr.isNotNull() & (key < thr))


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_hits): distinct word-k-grams each corpus doc shares with
    the benchmark set. The corpus shingles are restricted to the
    deduplicated benchmark shingle set through keyset.restrict (eval
    suites are ~MBs against a ~100 TB corpus, so it broadcasts); corpus
    shingles never shuffle."""
    c = _shingle_rows(corpus, text_col, id_col, k)
    b = _shingle_rows(benchmark, text_col, id_col, k).select("sh").distinct()
    return (
        restrict(c, "sh", b)
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("id").alias(id_col), "n_hits")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus minus contaminated docs (>= min_hits shared k-grams): a
    keyset.restrict anti join against the contaminated-id set."""
    bad = contamination_overlap(corpus, benchmark, k, text_col, id_col).where(
        F.col("n_hits") >= min_hits
    )
    return restrict(corpus, id_col, bad.select(id_col), anti=True)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis-Spirakis
    2006, exponential-clock form): each row draws u ~ U(0,1) from a
    salted md5 of its id and gets key = -ln(u) / w — the k SMALLEST keys
    are the sample, with inclusion probability proportional to weight
    (equivalent to the paper's u^(1/w) max-key form). The curation use:
    quality- or token-weighted corpus subsampling whose selected set is
    identical across partitionings, retries and engines (no RNG state —
    the same md5-derived-uniform discipline as dsir_resample).

    Plan: one scan; orderBy(key).limit(k) is TakeOrderedAndProject —
    per-partition k-heaps, only k rows reach the driver merge, no global
    sort. Keys round to 1e-6 before ordering (id tie-break) so float
    drift cannot flip the cut across engines; rows with weight <= 0 are
    excluded (zero weight = zero inclusion mass)."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 12),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(float(16**12) + 2.0)
    key = F.round(-F.log(u) / F.col(weight_col), 6)
    return (
        df.where(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), key.alias("wrs_key"))
        .orderBy("wrs_key", id_col)
        .limit(k)
    )


def score_quantiles(
    df: DataFrame,
    score,
    by: str,
    ps: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
    out_score: str = "q",
) -> DataFrame:
    """Per-stratum EXACT score quantiles -> (by, p, q): the calibration
    table a filtering pipeline derives thresholds from (per-language
    perplexity cutoffs, per-source length gates) — computed exactly, not
    sketched, so thresholds are reproducible and engine-checkable
    (Spark's sort-based `percentile` interpolates identically to ANSI
    percentile_cont/quantile_cont — bit-for-bit, probed in tests).

    One groupBy(by): the per-group sort rides the aggregate's spill
    machinery; output is one row per (stratum, p) — tiny. `score` is any
    Column; quantiles round to 1e-6."""
    arr = ", ".join(repr(float(p)) for p in ps)
    scored = df.select(F.col(by), score.cast("double").alias("__s"))
    agg = scored.groupBy(by).agg(F.expr(f"percentile(__s, array({arr}))").alias("__qs"))
    pcol = F.array(*[F.lit(float(p)) for p in ps])
    return (
        agg.select(by, F.explode(F.arrays_zip(pcol.alias("p"), F.col("__qs").alias("q"))).alias("z"))
        .select(by, F.col("z.p").alias("p"), F.round("z.q", 6).alias(out_score))
    )


def snapshot_diff(


    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-to-crawl corpus delta -> (id_col, status) with status in
    {added, removed, changed}; unchanged docs are dropped. The step an
    incremental pipeline runs first: only `added`/`changed` docs enter
    the dedup/filter/mixture passes (see incremental_dedup_verdicts),
    `removed` ids feed tombstones downstream.

    Shape at 100 TB: each side reduces to (id, md5(text)) AT THE SCAN —
    only 16-byte hashes shuffle into one full-outer equi-join on the id;
    document text never moves. The same content-hash convention as
    exact dedup, so diffs and dedup share scan output when composed."""
    o = old.select(F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("__oh"))
    n = new.select(F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("__nh"))
    return (
        o.join(n, "__id", "full_outer")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__oh").isNull(), F.lit("added"))
            .when(F.col("__nh").isNull(), F.lit("removed"))
            .when(F.col("__oh") != F.col("__nh"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
        .where(F.col("status") != "unchanged")
    )


def quality_filter(
    docs: DataFrame,
    min_quality: float = 0.5,
    min_words: int = 5,
    max_words: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, keep, reason): rule-based keep/drop verdicts. Reasons are
    checked in a fixed order (too_short, too_long, low_quality, ok) so the
    first failing rule labels the doc — same contract as C4's filter-
    reason accounting."""
    q = quality_features(docs, text_col=text_col, id_col=id_col)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_short"))
        .when(F.col("n_words") > max_words, F.lit("too_long"))
        .when(F.col("quality") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("ok"))
    )
    return q.select(
        F.col(id_col),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# Default PII pattern set (RE2/Java-compatible, no backrefs — runs
# identically under Catalyst and DuckDB). Phone deliberately excludes '.'
# separators so IPv4 addresses never double-count as phones.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "phone": r"\+?\d{2,4}[-\s]\d{3}[-\s]\d{1,6}",
}


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
    token: str = "[PII]",
) -> DataFrame:
    """Redact PII spans (emails, IPv4 addresses, phone numbers by default;
    the pattern set is caller-extensible) and count matches per category.

    Everything is chained regexp_replace / regexp_extract_all — ONE
    codegen'd projection, zero Python in the row path, so scrubbing rides
    the same scan as any other columnar step at 100 TB. Replacements
    apply in pattern-dict order (email before phone, so an address's
    digits are redacted as an address, not a phone); per-category counts
    are measured on the ORIGINAL text, independent of redaction order."""
    pats = patterns or PII_PATTERNS
    c = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(p), 0)).alias(f"n_{name}")
        for name, p in pats.items()
    ]
    scrubbed = c
    for p in pats.values():
        scrubbed = F.regexp_replace(scrubbed, p, token.replace("$", r"\$"))
    return docs.select(F.col(id_col), scrubbed.alias(text_col), *counts)


def mixture_weights(
    docs: DataFrame,
    targets: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source sampling rates that realize a target token mixture.

    Given target shares per source (the DoReMi/Pile-style domain-mixture
    spec), the achievable corpus size is capped by the BINDING source —
    the one whose token supply runs out first at its share: T = min over
    sources of n_tokens_s / share_s. Every source then samples at
    rate_s = share_s * T / n_tokens_s (the binding source at 1.0), which
    stratified_sample consumes directly as its per-stratum rates.

    Output: (source, n_tokens, rate). One groupBy on the bounded source
    dimension + a one-row broadcast of the cap — nothing else shuffles,
    so the solve costs one pass at any corpus size."""
    tok = (
        docs.groupBy(source_col)
        .agg(F.sum(whitespace_token_count(F.col(text_col))).alias("n_tokens"))
    )
    pairs = []
    for src, share in targets.items():
        if share <= 0:
            raise ValueError(f"share for {src!r} must be positive")
        pairs.extend([F.lit(src), F.lit(float(share))])
    share = F.create_map(*pairs)[F.col(source_col)]
    t = tok.withColumn("__share", share).where(F.col("__share").isNotNull())
    cap = t.select(F.min(F.col("n_tokens") / F.col("__share")).alias("__T"))
    return (
        t.crossJoin(F.broadcast(cap))
        .select(
            source_col,
            "n_tokens",
            # n_tokens >= 1 whenever the source group exists (every doc
            # counts at least one whitespace token), so the division is
            # ANSI-safe without a guard
            F.round(F.col("__share") * F.col("__T") / F.col("n_tokens"), 6).alias("rate"),
        )
    )


def sample_by_rates(
    docs: DataFrame,
    rates: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "cmw",
) -> DataFrame:
    """stratified_sample with COMPUTED rates (the mixture_weights output
    frame) instead of a literal dict: the per-source rate broadcasts in
    and converts to the same 4-hex md5 threshold, so a mixture solve can
    feed sampling inside one Catalyst plan with no driver round-trip.
    Sources absent from `rates` drop (inner join), matching the
    dict-variant's rate-0 semantics."""
    thr = F.when(F.col("rate") >= 1.0, F.lit("zzzz")).otherwise(
        F.lower(F.lpad(F.hex(F.floor(F.col("rate") * 65536).cast("int")), 4, "0"))
    )
    key = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))), 1, 4
    )
    return (
        docs.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .where(key < thr)
        .drop("rate")
    )


def export_pipeline(
    docs: DataFrame,
    targets: dict[str, float],
    budget: int = 256,
    n_shards: int = 4,
    min_quality: float = 0.5,
) -> DataFrame:
    """The export tail end-to-end, ONE Catalyst plan: exact dedup (keep
    min-id per content hash) -> C4-style quality filter -> domain-mixture
    solve -> deterministic per-source sampling at the solved rates ->
    concat-and-chunk sequence packing -> per-(shard, window) manifest
    (n_docs, n_tokens). The manifest is what a training launcher reads to
    size its data-loader shards; every stage is a proven operator and
    nothing materializes driver-side between them."""
    from cm_well_spark.operators.dedup import distinct_documents
    from cm_well_spark.operators.packing import pack_concat_windows

    deduped = distinct_documents(docs).cache()
    verdicts = quality_filter(deduped, min_quality=min_quality)
    kept = deduped.join(
        verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    ).cache()
    rates = mixture_weights(kept, targets)
    sampled = sample_by_rates(kept, rates)
    packed = pack_concat_windows(sampled, budget=budget, n_shards=n_shards)
    return packed.groupBy("shard", "window").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("win_tokens").cast("long").alias("n_tokens"),
    )


def url_host(c: Column) -> Column:
    """Registrable host of a URL column: scheme/userinfo stripped, port
    and path cut, lowercased. Pure regexp — stays in codegen."""
    return F.lower(
        F.regexp_extract(c, r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def url_filter(
    df: DataFrame,
    blocked_domains: list[str],
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-blocklist filter (the RefinedWeb/CCNet URL-filtering pass):
    drop documents whose host IS a blocked domain or any subdomain of
    one. The blocklist (10^4-10^6 rows in the published pipelines) is a
    keyset.restrict key list, so it broadcasts past a few hundred
    entries; matching is suffix-correct without a cross join or a
    per-entry regex: the host explodes into its dot-suffixes
    (a.b.example.com -> [a.b.example.com, b.example.com, example.com] —
    bounded by label count, ~5), each restricted to the blocklist.
    Hit ids come back to the corpus as an anti join keyed on
    `id_col`; blocklist hits are a small fraction of any real corpus, so
    AQE turns that anti join into a broadcast — the corpus itself never
    shuffles in either stage."""
    host = url_host(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(labels, i, n - i + 1)),
    )
    hit_ids = (
        restrict(
            df.select(F.col(id_col), F.explode(suffixes).alias("dom")),
            "dom",
            [d.lower() for d in blocked_domains],
        )
        .select(id_col)
        .distinct()
    )
    return df.join(hit_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169)
# ---------------------------------------------------------------------------

def _dsir_bucket(c: Column, n_buckets: int) -> Column:
    """Hashed n-gram feature bucket. md5-based (not xxhash) so the DuckDB
    oracle reproduces the bucketing bit-for-bit:
    ('0x' || substring(md5(ng), 1, 8))::BIGINT % n_buckets."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets


def _dsir_grams(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """Word unigrams + bigrams of the normalized text, one row each (the
    paper's hashed n-gram bag features). Multiset semantics — repeated
    n-grams count."""
    from cm_well_spark.operators.text import _word_ngrams_all, normalize_text

    uni = F.split(normalize_text(F.col(text_col)), " ")
    ng = F.concat(uni, _word_ngrams_all(F.col(text_col), 2))
    cols = [F.col(id_col)] if id_col else []
    return df.select(*cols, F.explode(ng).alias("ng")).where(F.col("ng") != "")


def _dsir_fit(grams: DataFrame, n_buckets: int) -> tuple[dict[int, float], float]:
    """Laplace-smoothed hashed-feature distribution, collected to
    literals: at most `n_buckets` rows regardless of corpus size (the
    bounded-dim collect this repo allows — same pattern as the PQ
    codebooks). Returns ({bucket: ln p(b)}, smoothing floor ln(1/(N+B))
    for buckets the corpus never hit)."""
    import math

    rows = (
        grams.groupBy(_dsir_bucket(F.col("ng"), n_buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(r["n"] for r in rows)
    lp = {r["bucket"]: math.log((r["n"] + 1) / (total + n_buckets)) for r in rows}
    return lp, math.log(1.0 / (total + n_buckets))


def _dsir_lp_expr(lp: dict[int, float], floor: float, bucket: Column) -> Column:
    """ln p(bucket) as a constant map literal lookup (<= n_buckets
    entries, folded once by codegen) with the smoothing floor as the
    miss value — no join, no recomputation of the fit per consumer."""
    if not lp:
        return F.lit(floor)
    ks, vs = zip(*sorted(lp.items()))
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in ks]), F.array(*[F.lit(v) for v in vs])
    )
    return F.coalesce(m[bucket], F.lit(floor))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR importance weight
    ``log w(x) = sum_b c_b(x) * (ln p_target(b) - ln p_raw(b))`` over
    hashed unigram+bigram bucket counts c_b, with Laplace-smoothed bucket
    distributions fit on the target (quality) corpus and the raw corpus.

    100 TB shape (the paper's two-pass structure): each corpus is
    exploded exactly once to fit its <= n_buckets-row distribution, which
    collects to a map literal; the scoring pass explodes the raw corpus
    once more into (doc, bucket) counts with map-side combine and folds
    to one row per doc with the log-ratios as constant lookups. No join
    in the scoring pass, no all-pairs stage, no data-scale driver state.
    (A lazy-plan variant would re-run both fit aggregations for every
    consumer branch — the literal fit is the cheaper shape.)"""
    lp_t, floor_t = _dsir_fit(_dsir_grams(target, text_col, None), n_buckets)
    lp_r, floor_r = _dsir_fit(_dsir_grams(raw, text_col, None), n_buckets)
    doc_b = (
        _dsir_grams(raw, text_col, id_col)
        .groupBy(id_col, _dsir_bucket(F.col("ng"), n_buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    delta = _dsir_lp_expr(lp_t, floor_t, F.col("bucket")) - _dsir_lp_expr(
        lp_r, floor_r, F.col("bucket")
    )
    return doc_b.groupBy(id_col).agg(F.sum(F.col("c") * delta).alias("log_w"))


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Gumbel top-k importance resampling (the paper's without-replacement
    sampler): key = log w(x) + Gumbel noise; take the k largest keys.
    The Gumbel draw is derived from md5(doc_id) — no RNG state, so the
    selected set is identical across partitionings, retries and engines,
    and the DuckDB oracle replays membership exactly. The top-k runs as
    TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    never a global sort. Keys are rounded to 1e-6 before ordering (with
    doc_id as tie-break) so borderline float drift cannot flip the cut
    across engines."""
    w = dsir_weights(raw, target, text_col, id_col, n_buckets)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col(id_col).cast("string"))), 1, 12), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(float(16**12) + 2.0)
    key = F.round(F.col("log_w") - F.log(-F.log(u)), 6)
    return (
        w.select(F.col(id_col), F.round("log_w", 6).alias("log_w"), key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Gopher/MassiveText document-level rule filter
# ---------------------------------------------------------------------------

# Rae et al. 2021 (Gopher), Table A1: the 8 "stop words" whose presence
# (>= 2 distinct) gates a document into the corpus.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher/MassiveText document-level quality rules (Rae et al. 2021,
    Table A1), evaluated in a fixed order so the FIRST failing rule labels
    the doc — (doc_id, reason, keep):

      too_few_words / too_many_words   word count outside [min, max]
      short_words / long_words         mean word length outside [3, 10]
      symbol_ratio                     ('#' + ellipsis) per word > 0.1
      bullet_lines                     > 90% of lines start with a bullet
      ellipsis_lines                   > 30% of lines end with an ellipsis
      non_alpha_words                  < 80% of words contain [A-Za-z]
      few_stop_words                   < 2 distinct Gopher stop words
      dup_lines / dup_line_chars       duplicate-line fraction > 0.30 /
                                       char-weighted > 0.20
      top_2gram / dup_5gram            top-2gram occupancy > 0.20 /
                                       duplicated-5gram fraction > 0.15

    Shape at 100 TB: every scalar rule is one codegen'd projection over
    the doc row; the repetition signals (text.repetition_signals) are
    explode -> keyed hash aggs with map-side combine, joined back on the
    id — the only shuffle. All thresholds compare exact ratios of integer
    counts, so verdicts are bit-identical across engines and retries."""
    from cm_well_spark.operators.text import repetition_signals

    c = F.col(text_col)
    t = F.trim(c)
    words = F.split(t, r"\s+")
    n_words = F.size(words)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    mean_wl = F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(n_words, F.lit(1))
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"#"), 0)) + F.size(
        F.regexp_extract_all(c, F.lit(r"\.\.\.|…"), 0)
    )
    feats = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_wl"),
        (n_sym / F.greatest(n_words, F.lit(1))).alias("sym_ratio"),
        (
            F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
            / F.greatest(n_lines, F.lit(1))
        ).alias("bullet_frac"),
        (
            F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
            / F.greatest(n_lines, F.lit(1))
        ).alias("ellipsis_frac"),
        (
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
            / F.greatest(n_words, F.lit(1))
        ).alias("alpha_frac"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.transform(words, F.lower)),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).alias("n_stop"),
    )
    rep = repetition_signals(docs, text_col=text_col, id_col=id_col)
    j = feats.join(rep, id_col)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_few_words"))
        .when(F.col("n_words") > max_words, F.lit("too_many_words"))
        .when(F.col("mean_wl") < 3, F.lit("short_words"))
        .when(F.col("mean_wl") > 10, F.lit("long_words"))
        .when(F.col("sym_ratio") > 0.1, F.lit("symbol_ratio"))
        .when(F.col("bullet_frac") > 0.9, F.lit("bullet_lines"))
        .when(F.col("ellipsis_frac") > 0.3, F.lit("ellipsis_lines"))
        .when(F.col("alpha_frac") < 0.8, F.lit("non_alpha_words"))
        .when(F.col("n_stop") < 2, F.lit("few_stop_words"))
        .when(F.col("dup_line_frac") > 0.30, F.lit("dup_lines"))
        .when(F.col("dup_line_char_frac") > 0.20, F.lit("dup_line_chars"))
        .when(F.col("top_kgram_frac") > 0.20, F.lit("top_2gram"))
        .when(F.col("dup_kgram_frac") > 0.15, F.lit("dup_5gram"))
        .otherwise(F.lit("ok"))
    )
    return j.select(F.col(id_col), reason.alias("reason"), (reason == "ok").alias("keep"))


# ---------------------------------------------------------------------------
# boilerplate removal (jusText-lite line classifier)
# ---------------------------------------------------------------------------

# Marker phrases whose presence classifies a line as boilerplate outright
# (case-insensitive substring match) — the jusText/trafilatura "bad token"
# list reduced to the universal web-chrome offenders.
BOILERPLATE_MARKERS = (
    "all rights reserved",
    "cookie",
    "terms of service",
    "privacy policy",
    "copyright",
    "©",
)


def boilerplate_removal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_line_words: int = 5,
    min_stop_ratio: float = 0.2,
    long_line_words: int = 20,
) -> DataFrame:
    """jusText-style boilerplate line removal (Pomikalek 2011), reduced to
    a deterministic per-line classifier: a line survives iff it has at
    least `min_line_words` words, at least half its words contain a
    letter, carries no boilerplate marker phrase, and is either long
    (>= `long_line_words` words) or stopword-dense (>= `min_stop_ratio`).
    Returns (doc_id, text, n_kept, n_dropped) with surviving lines
    re-joined in order.

    Shape at 100 TB: a single codegen'd projection — split / filter /
    array_join entirely inside higher-order array functions. Zero shuffle,
    zero explode, zero Python; classification rides the scan."""
    c = F.col(text_col)

    def _words(l):  # noqa: E741
        return F.split(F.trim(l), r"\s+")

    def _is_content(l):  # noqa: E741
        w = _words(l)
        nw = F.size(w)
        stop_ratio = F.size(F.filter(w, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS))) / F.greatest(
            nw, F.lit(1)
        )
        alpha_ratio = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / F.greatest(
            nw, F.lit(1)
        )
        low = F.lower(l)
        marker = None
        for m in BOILERPLATE_MARKERS:
            hit = low.contains(F.lit(m))
            marker = hit if marker is None else (marker | hit)
        return (
            (nw >= min_line_words)
            & (alpha_ratio >= 0.5)
            & ~marker
            & ((nw >= long_line_words) | (stop_ratio >= min_stop_ratio))
        )

    lines = F.split(c, "\n")
    kept = F.filter(lines, _is_content)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(kept).alias("n_kept"),
        (F.size(lines) - F.size(kept)).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# learned linear quality classifier inference (fastText-style): hashed
# n-gram bag features x a trained weight vector, mean-pooled, sigmoid
# ---------------------------------------------------------------------------


def linear_classifier_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score) — P(positive) under a linear model over hashed
    unigram+bigram bag features: score = sigmoid(bias +
    mean(weights[bucket(ng)])). This is fastText-architecture INFERENCE
    (Joulin et al. 2016) with the embedding dimension collapsed to 1 —
    the shape of the public quality classifiers (GPT-3's WebText-vs-
    common-crawl LR filter, CCNet's fastText stage) once trained weights
    are exported. Training happens offline; this op applies the model to
    a corpus.

    Plan shape: one explode to n-gram rows (the _dsir_grams relation),
    the md5 feature-hash (oracle-reproducible — _dsir_bucket), a literal
    array lookup for the weight (the model rides the PLAN as a literal,
    like the SRP planes and PQ codebooks — no join, no Python, no
    broadcast variable to manage), and one groupBy(id) mean. Weight dim
    is the model's hash-bucket count — fastText uses 2M buckets; a
    float array literal that size is ~16 MB plan payload, so keep
    exported dims <= ~100k or feed weights through a broadcast join
    variant. Docs with no n-grams (empty after normalization) score
    sigmoid(bias)."""
    n = len(weights)
    warr = F.array(*[F.lit(float(w)) for w in weights])
    grams = _dsir_grams(df, text_col, id_col)
    per_doc = grams.select(
        id_col, F.element_at(warr, (_dsir_bucket(F.col("ng"), n) + 1).cast("int")).alias("w")
    ).groupBy(id_col).agg(F.avg("w").alias("mean_w"))
    logit = F.lit(float(bias)) + F.coalesce(F.col("mean_w"), F.lit(0.0))
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col, (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score")
    )


# ---------------------------------------------------------------------------
# deterministic sampling & splits: exact-k per stratum, train/val/test
# ---------------------------------------------------------------------------


def exact_stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum — the quota-sampling
    complement of stratified_sample's Bernoulli rates. Rows rank within
    their stratum by md5(salt:id) (uniform, reproducible across runs,
    partitionings and in the SQL oracle — the packing.py determinism
    recipe) and rank <= k survive.

    One hash-partitioned window (rank rides the stratum shuffle). The
    stratum is the parallelism unit: fine when strata >> cores (lang,
    domain, source buckets — the normal case); a single mega-stratum
    serializes its sort into one task, so for coarse strata at corpus
    scale prefer Bernoulli stratified_sample or pre-salt the stratum."""
    from pyspark.sql import Window

    h = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.9, 0.05, 0.05),
    salt: str = "split",
) -> DataFrame:
    """Adds a deterministic `split` column ('train'/'val'/'test') by
    hash range: u = first 8 md5 hex digits of salt:id as an integer in
    [0, 2^32); split boundaries are integer thresholds at the cumulative
    weights (integer compares — no float-boundary ambiguity between
    engines). Purely map-side: no shuffle, no RNG state, the same doc
    lands in the same split on any cluster, any run, and in the SQL
    oracle — the property that keeps eval sets stable as the corpus is
    re-processed."""
    wt, wv, ws = weights
    if abs(wt + wv + ws - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {weights}")
    lo = int(wt * (1 << 32))
    hi = int((wt + wv) * (1 << 32))
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    split = (
        F.when(u < lo, F.lit("train")).when(u < hi, F.lit("val")).otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def temperature_mixture_rates(
    docs: DataFrame,
    alpha: float = 0.3,
    text_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """Temperature-smoothed sampling rates over a stratum (the mT5 /
    XLM-R alpha-sampling rule, Xue et al. 2021 §3.1): target share
    q_s ∝ p_s^alpha where p_s is the stratum's token share — alpha < 1
    flattens the distribution, upsampling low-resource strata. Rates
    then realize the q mixture with the binding-stratum cap exactly as
    mixture_weights: T = min_s n_s / q_s, rate_s = q_s * T / n_s.

    Entirely columnar over the bounded stratum dimension (languages /
    domains — dozens of rows): one corpus pass for token counts, then
    broadcast one-row totals; no driver round-trip, so the solve feeds
    sample_by_rates inside a single Catalyst plan. Output
    (stratum, n_tokens, q_share, rate), floats rounded to 6 for
    engine-exact replay."""
    tok = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(whitespace_token_count(F.col(text_col))).alias("n_tokens")
    )
    tot = tok.select(
        F.sum("n_tokens").alias("__N"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("__Z"),
    )
    q = tok.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_tokens",
        (F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) / F.col("__Z")).alias("__q"),
    )
    cap = q.select(F.min(F.col("n_tokens") / F.col("__q")).alias("__T"))
    return q.crossJoin(F.broadcast(cap)).select(
        "stratum",
        "n_tokens",
        F.round(F.col("__q"), 6).alias("q_share"),
        F.round(F.col("__q") * F.col("__T") / F.col("n_tokens"), 6).alias("rate"),
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget
    (the data-constrained-scaling recipe: spend the budget on the
    highest-quality tokens): walk docs in (quality desc, id asc) order
    and admit each doc while the running token total is still under
    `budget` (the straddling doc is admitted — standard greedy fill).

    A naive global running sum is a single-partition window; this plans
    scale-safe instead: quality rounds into <= 1001 BUCKETS, the
    bucket-level cumulative sum runs on that bounded table (the only
    global window, 1001 rows by construction), and the row-level
    remainder is a window PARTITIONED BY bucket — parallel across
    buckets, exact within. Admission = tokens-before-me (bucket prefix +
    in-bucket prefix) < budget, which reproduces the naive semantics
    row-for-row; the SQL oracle replays both windows verbatim.

    Output: (doc_id, quality, n_tokens, tokens_before) for kept docs."""
    from pyspark.sql import Window

    scored = docs.select(
        F.col(id_col),
        F.round(quality_score(F.col(text_col)), 6).alias("quality"),
        whitespace_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.floor(F.col("quality") * 1000).cast("int"))

    bsum = scored.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    wb = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bprefix = bsum.select(
        "bucket", F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("bucket_prefix")
    )
    wd = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("quality"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        scored.join(F.broadcast(bprefix), "bucket")
        .withColumn(
            "tokens_before",
            (F.col("bucket_prefix") + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0))).cast(
                "long"
            ),
        )
        .where(F.col("tokens_before") < budget)
        .select(id_col, "quality", "n_tokens", "tokens_before")
    )


def train_linear_classifier(
    docs: DataFrame,
    labels: DataFrame,
    n_buckets: int = 256,
    n_iters: int = 8,
    lr: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
) -> tuple[list[float], float]:
    """Full-batch logistic-regression TRAINING for the fastText-shaped
    quality classifier (the model linear_classifier_score applies):
    mean-pooled hashed unigram+bigram features, sigmoid output, gradient
    descent on log-loss. The in-engine counterpart of training CCNet /
    GPT-3-style quality filters on a labeled sample.

    Spark-first shape: the sparse feature relation x = (doc, bucket,
    count/m) is built ONCE (one explode + one groupBy) and
    iter_checkpoint'ed; each round is then
      logits   element_at(weight-literal-array, bucket) — the model
               rides the plan as literals, so scoring is join-free —
               + groupBy(doc).sum
      errors   sigmoid - label, one columnar projection
      gradient join errors back onto x, groupBy(bucket).sum — at most
               n_buckets rows reach the driver (the bounded-dim collect
               this repo allows; 100 TB corpora stream through both
               aggregations with map-side partial combine)
    Driver state is the weight vector alone (n_buckets floats). Returns
    (weights, bias). Iterative by nature -> registry rows-only; pinned
    against a pure-Python reference in pytest (float sums tolerate
    partition-order ULP noise)."""
    import math

    y = labels.select(F.col(id_col).alias("__id"), F.col(label_col).cast("double").alias("__y"))
    grams = _dsir_grams(docs.join(y, docs[id_col] == y["__id"], "left_semi"), text_col, id_col)
    cnt = grams.select(
        F.col(id_col).alias("__id"), _dsir_bucket(F.col("ng"), n_buckets).alias("__b")
    ).groupBy("__id", "__b").agg(F.count("*").alias("__c"))
    m = cnt.groupBy("__id").agg(F.sum("__c").alias("__m"))
    # lazy: the n_docs action below materializes the feature blocks in
    # the same job (r11 — the descent rounds then read blocks)
    x = (
        cnt.join(m, "__id")
        .select("__id", "__b", (F.col("__c") / F.col("__m")).alias("__x"))
        .join(y, "__id")
        .transform(iter_checkpoint_lazy)
    )
    n_docs = x.select("__id").distinct().count()

    w = [0.0] * n_buckets
    bias = 0.0
    for _ in range(n_iters):
        warr = F.array(*[F.lit(float(v)) for v in w])
        scored = (
            x.withColumn("__wx", F.element_at(warr, (F.col("__b") + 1).cast("int")) * F.col("__x"))
            .groupBy("__id", "__y")
            .agg(F.sum("__wx").alias("__logit"))
            .select(
                "__id",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("__logit") + F.lit(bias)))) - F.col("__y")).alias(
                    "__err"
                ),
            )
        )
        gb = scored.agg(F.sum("__err").alias("g")).first()["g"] or 0.0
        grows = (
            x.join(scored, "__id")
            .groupBy("__b")
            .agg(F.sum(F.col("__err") * F.col("__x")).alias("g"))
            .collect()
        )
        g = {r["__b"]: r["g"] for r in grows}
        w = [wi - lr * g.get(b, 0.0) / n_docs for b, wi in enumerate(w)]
        bias -= lr * gb / n_docs
    return w, bias


def corpus_datacard(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", lang_col: str = "lang"
) -> DataFrame:
    """One-row corpus data card -> (n_docs, n_tokens, avg_tokens,
    p50_tokens, n_langs, top_lang, top_lang_frac, exact_dup_rate): the
    summary table a dataset release documents (datasheet / data card
    reporting). exact_dup_rate = fraction of docs whose normalized text
    hash occurs more than once.

    Shape at 100 TB: everything reduces at the scan — token counts and
    content hashes are columnar projections; one global aggregate
    (map-side combining) plus two tiny keyed aggregates (lang dim,
    bounded; hash dim for the dup rate, the exact-dedup shuffle the
    pipeline runs anyway). No row ever leaves with its text."""
    from cm_well_spark.operators.text import normalize_text

    base = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("__lang"),
        whitespace_token_count(F.col(text_col)).alias("__tok"),
        F.md5(normalize_text(F.col(text_col))).alias("__h"),
    )
    main = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.round(F.avg("__tok"), 6).alias("avg_tokens"),
        F.expr("percentile(__tok, 0.5)").alias("p50_tokens"),
    )
    langs = (
        base.groupBy("__lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.max(F.struct("c", "__lang")).alias("__top"),
            F.sum("c").alias("__total"),
        )
        .select(
            "n_langs",
            F.col("__top.__lang").alias("top_lang"),
            F.round(F.col("__top.c") / F.col("__total"), 6).alias("top_lang_frac"),
        )
    )
    dups = (
        base.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))) / F.sum("c"), 6
            ).alias("exact_dup_rate")
        )
    )
    return main.crossJoin(F.broadcast(langs)).crossJoin(F.broadcast(dups))


def blocklist_filter(
    docs: DataFrame,
    patterns: list[str],
    mode: str = "word",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style blocklist gating (Raffel et al. 2020 drop any page
    containing a listed word) -> (id, keep, n_matched, first_match).
    mode='word' matches whole normalized words (the C4 rule — 'class'
    must not trip a 'ass' entry); mode='substring' matches anywhere in
    the lowercased text (the stricter leetspeak-averse variant).

    The pattern list is bounded by contract (curated blocklists are
    hundreds to low-thousands of entries) and inlines as an array
    literal — like the classifier weight vector, it rides the scan into
    every executor with no broadcast join, no shuffle, no Python; each
    doc pays one membership test per pattern against its own words.
    first_match reports in PATTERN-LIST order (the audit convention:
    earlier = more severe)."""
    if mode not in ("word", "substring"):
        raise ValueError(f"unknown mode {mode!r}")
    pats = F.array(*[F.lit(p) for p in patterns])
    if mode == "word":
        from cm_well_spark.operators.text import normalize_text

        words = F.split(normalize_text(F.col(text_col)), " ")
        matched = F.filter(pats, lambda p: F.array_contains(words, p))
    else:
        low = F.lower(F.col(text_col))
        matched = F.filter(pats, lambda p: low.contains(p))
    return docs.select(
        F.col(id_col),
        (F.size(matched) == 0).alias("keep"),
        F.size(matched).alias("n_matched"),
        F.get(matched, 0).alias("first_match"),
    )


def expectations_report(
    df: DataFrame,
    rules: dict[str, "F.Column"],
    unique_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deequ-style data-quality expectations -> one row per rule
    (rule, n_checked, n_violations, pass_rate): the pre-flight gate a
    pipeline runs before committing a corpus snapshot (the corpus-side
    sibling of the store's W7 consistency audit). `rules` maps rule
    name -> boolean Column; a NULL predicate counts as a violation
    (null-hostile by design — a null length check IS a data problem).
    `unique_cols` adds a uniqueness rule per column
    (violations = n_rows - n_distinct).

    Shape: ONE aggregate over the scan computes every rule's violation
    count map-side (plus one distinct-agg per unique col); the
    per-rule reshape explodes a literal struct array of the single
    result row. No joins, no second scan, no Python."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules.items():
        aggs.append(F.sum(F.when(pred, F.lit(0)).otherwise(F.lit(1))).alias(f"__v_{name}"))
    for c in unique_cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"__u_{c}"))
    row = df.agg(*aggs)
    structs = [
        F.struct(F.lit(name).alias("rule"), F.col(f"__v_{name}").alias("v")) for name in rules
    ] + [
        F.struct(
            F.lit(f"{c}_unique").alias("rule"), (F.col("__n") - F.col(f"__u_{c}")).alias("v")
        )
        for c in unique_cols
    ]
    return row.select(
        F.col("__n").alias("n_checked"), F.explode(F.array(*structs)).alias("r")
    ).select(
        F.col("r.rule").alias("rule"),
        "n_checked",
        F.col("r.v").alias("n_violations"),
        F.round(F.lit(1.0) - F.col("r.v") / F.col("n_checked"), 6).alias("pass_rate"),
    )


def balanced_sample(
    df: DataFrame,
    class_col: str,
    id_col: str,
    n_per_class: int | None = None,
    salt: str = "balance",
) -> DataFrame:
    """Class-balanced downsample: keep exactly `n_per_class` rows of
    every class (default: the size of the SMALLEST class, i.e. perfect
    balance), selected by a salted md5 rank of the id — the
    classifier-training prep step (language/domain/label balance) where
    a random-looking but REPLAYABLE subset matters more than a fresh
    random one.

    Plan: one reduced per-class count (only to resolve the default
    target — a bounded driver min over |classes| rows, skipped entirely
    when the caller passes `n_per_class`), then ONE row_number window
    per class over the md5 order with a LITERAL rank filter — the
    literal is what lets Spark's InferWindowGroupLimit insert a partial
    per-partition top-k BEFORE the shuffle, so each map task forwards
    at most n_per_class rows per class instead of the whole class
    (check the plan: WindowGroupLimit above the scan). Classes smaller
    than the target keep everything — by construction when defaulting,
    by contract when explicit."""
    if n_per_class is None:
        counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("__n"))
        n_per_class = counts.agg(F.min("__n")).collect()[0][0]
        if n_per_class is None:
            return df.limit(0)
    from pyspark.sql import Window

    w = Window.partitionBy(class_col).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(n_per_class))
        .drop("__rk")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier flags -> every row gains (median, mad,
    robust_z, is_outlier) computed per `by` group: the modified z-score
    |0.6745 (x - median) / MAD| (Iglewicz & Hoaglin 1993) — the
    quality-filter form that a single garbage document cannot drag,
    unlike mean/stddev z-scores where the outlier inflates its own
    yardstick.

    Plan: TWO exact sort-based percentiles that each ride a keyed
    aggregate over the group (median of x, then median of |x - med|),
    joined back to the rows — group-bounded memory, no global sort.
    MAD = 0 (over half the group identical) makes the z undefined: such
    rows flag as outliers only if strictly different from the median,
    the standard convention. 6dp rounding keeps it engine-replayable."""
    keys = [by] if by else []
    gmed = (
        df.groupBy(*keys).agg(F.percentile(value_col, 0.5).alias("median"))
        if keys
        else df.agg(F.percentile(value_col, 0.5).alias("median"))
    )
    base = df.join(F.broadcast(gmed), keys) if keys else df.crossJoin(F.broadcast(gmed))
    dev = base.withColumn("__dev", F.abs(F.col(value_col) - F.col("median")))
    gmad = (
        dev.groupBy(*keys).agg(F.percentile("__dev", 0.5).alias("mad"))
        if keys
        else dev.agg(F.percentile("__dev", 0.5).alias("mad"))
    )
    full = dev.join(F.broadcast(gmad), keys) if keys else dev.crossJoin(F.broadcast(gmad))
    z = F.lit(0.6745) * (F.col(value_col) - F.col("median")) / F.col("mad")
    return (
        full.withColumn(
            "robust_z",
            F.round(F.when(F.col("mad") != 0, z), 6),
        )
        .withColumn(
            "is_outlier",
            F.when(F.col("mad") != 0, F.abs(F.col("robust_z")) > threshold).otherwise(
                F.col("__dev") > 0
            ),
        )
        .drop("__dev")
        .withColumn("median", F.round("median", 6))
        .withColumn("mad", F.round("mad", 6))
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Percentile clipping -> every row gains (p_lo, p_hi,
    {value_col}_winsorized): values clamped into the group's exact
    [lower, upper] percentile band — the tail-taming complement of
    mad_outliers (flagging) for features that feed downstream scoring,
    where a single 10^9 token count would otherwise dominate any
    normalization.

    Plan: ONE keyed exact-percentile aggregate (both bounds in the same
    pass) broadcast back to the rows — group-bounded, no global sort,
    no row ever dropped (clipping, not filtering)."""
    keys = [by] if by else []
    pcts = (
        df.groupBy(*keys).agg(
            F.percentile(value_col, lower).alias("p_lo"),
            F.percentile(value_col, upper).alias("p_hi"),
        )
        if keys
        else df.agg(
            F.percentile(value_col, lower).alias("p_lo"),
            F.percentile(value_col, upper).alias("p_hi"),
        )
    )
    base = df.join(F.broadcast(pcts), keys) if keys else df.crossJoin(F.broadcast(pcts))
    clipped = F.least(F.greatest(F.col(value_col).cast("double"), F.col("p_lo")), F.col("p_hi"))
    return base.select(
        "*",
        F.round(clipped, 6).alias(f"{value_col}_winsorized"),
    ).withColumn("p_lo", F.round("p_lo", 6)).withColumn("p_hi", F.round("p_hi", 6))


def fk_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity audit -> ONE row (n_children, n_parents,
    n_orphan_children, n_childless_parents, orphan_frac): how many
    child rows reference a missing parent, and how many parents have no
    children — the relational twin of the infoton consistency audit
    (W7, admin.audit), for the lakehouse's flat tables and any
    (doc -> source, event -> user, chunk -> doc) containment contract.

    Plan: two keyed left-anti joins against the DISTINCT parent/child
    key relations plus three counts, assembled with 1-row cross joins —
    keys only ever shuffle as single columns, and the distinct
    reductions happen before either join."""
    ck = child.select(F.col(child_key).alias("__k"))
    pk = parent.select(F.col(parent_key).alias("__k")).distinct()
    ckd = ck.distinct()
    n_children = child.agg(F.count(F.lit(1)).cast("long").alias("n_children"))
    n_parents = parent.agg(F.count(F.lit(1)).cast("long").alias("n_parents"))
    orphans = ck.join(pk, "__k", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_orphan_children")
    )
    childless = pk.join(ckd, "__k", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_childless_parents")
    )
    return (
        n_children.crossJoin(F.broadcast(n_parents))
        .crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(childless))
        .select(
            "*",
            F.round(
                F.when(
                    F.col("n_children") > 0,
                    F.col("n_orphan_children") / F.col("n_children"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("orphan_frac"),
        )
    )
