"""Sampling / splitting / batching operators for training-data curation.

The corpus-side counterpart to ``operators/dedup.py``: once a corpus is
cleaned, a training pipeline still has to (a) carve deterministic
train/val/test splits without contamination, (b) subsample per stratum,
(c) drop degenerate repetitive documents, and (d) pack documents into
fixed token budgets for sequence batching. None of these exist in the
reference (it is a message-decryption pipeline, SURVEY §0) — they are the
§2 "beyond the reference" training-data group, built Spark-first.

Scale notes (100 TB):
- The split is a stateless narrow map over a content hash — no shuffle,
  no coordination, reproducible across reruns and cluster sizes.
- Stratified sampling and packing are window functions partitioned by
  stratum — one shuffle on the stratum key. A skewed stratum (one lang
  dominating a web corpus) is the known hazard; the scale path is
  two-level: per-partition pre-top-k / pre-pack, then a final merge pass
  over per-partition summaries (noted per operator).
- The repetition filter is explode -> two-stage aggregation, so the
  token-frequency count is map-side partial before the doc_id shuffle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.normalize import duck_ts, ts_str
from ..functions.textfns import tokens
from ..sources import load, load_events
from .base import make_registry

QUERIES, ORACLES, query = make_registry()

_PACK_CAPACITY = 256  # tokens per packed sequence (fixture docs are ~40-80)
_STRATUM_K = 5  # docs kept per stratum
_REP_TAU = 0.12  # top-unigram fraction above which a doc is "repetitive"


def _hash_unit_sql(hash_expr: str) -> str:
    """Uniform-in-(0,1) from the first 8 hex chars of a content hash, as a
    SQL fragment BOTH engines parse identically (instr/substr/double
    division only — no engine-specific hex casts). The +0.5 offset keeps
    the value strictly inside (0, 1) so ln(u) is finite."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({hash_expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}.0"
        for i in range(8)
    )
    return f"((({terms}) + 0.5) / 4294967296.0)"

# Split by FIRST HEX CHAR of sha256(text): '0'-'9','a'-'f' sort the same in
# both engines, so '<' comparisons bucket identically. 13/16 train ('0'-'c'),
# 2/16 val ('d','e'), 1/16 test ('f'). Hashing the CONTENT (not doc_id)
# puts byte-identical duplicates in the SAME split — train/test
# contamination through duplicated text is structurally impossible.
_SPLIT_CASE_SQL = """
  CASE WHEN substr(sha256(text), 1, 1) < 'd' THEN 'train'
       WHEN substr(sha256(text), 1, 1) < 'f' THEN 'val'
       ELSE 'test' END
"""


def _split_col():
    h1 = F.substring(F.sha2("text", 256), 1, 1)
    return (
        F.when(h1 < "d", "train").when(h1 < "f", "val").otherwise("test")
    )


@query(
    "split_train_test",
    f"""
    SELECT split, lang, count(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM (SELECT lang, text, {_SPLIT_CASE_SQL} AS split FROM documents)
    GROUP BY split, lang
    """,
)
def split_train_test(spark, sf_dir):
    """Deterministic content-hash train/val/test split (~81/12.5/6.25) +
    per-(split, lang) census. The assignment is a pure narrow map — zero
    shuffle, zero state; any executor recomputes the same split for the
    same document forever, which is what makes 100 TB resumable. The
    census groupBy is the only exchange and it partial-aggregates
    map-side."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", _split_col().alias("split"), F.size(tokens("text")).alias("nt"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )


_KFOLD = 5  # folds for cross-validation assignment


@query(
    "split_kfold_assign",
    f"""
    SELECT fold, lang, count(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM (
      SELECT lang, text,
             CAST(((instr('0123456789abcdef', substr(sha256(text), 1, 1)) - 1)
                   * 16
                   + (instr('0123456789abcdef', substr(sha256(text), 2, 1))
                      - 1)) % {_KFOLD} AS INTEGER) AS fold
      FROM documents
    )
    GROUP BY fold, lang
    """,
)
def split_kfold_assign(spark, sf_dir):
    """Deterministic {_KFOLD}-fold cross-validation assignment + census —
    `split_train_test`'s k-fold sibling: fold = (first content-hash byte)
    mod {_KFOLD}, so (a) the assignment is a pure narrow map any executor
    recomputes identically forever (100 TB resumable, no stored fold
    table), and (b) hashing the CONTENT puts byte-identical duplicates in
    the SAME fold — a duplicated document can never sit in both a train
    and a validation fold of the same split (the leakage k-fold exists to
    prevent). The byte is decoded with the instr-nibble idiom (both
    engines lack a common hex→int builtin). Census groupBy is the only
    exchange and partial-aggregates map-side; the tests pin the leakage
    law (every duplicate text group lands in exactly one fold)."""
    nib = lambda i: (  # noqa: E731 — tiny local helper, mirrors the SQL
        F.instr(F.lit("0123456789abcdef"), F.substring(F.sha2("text", 256), i, 1))
        - 1
    )
    fold = ((nib(1) * 16 + nib(2)) % _KFOLD).cast("int")
    return (
        load(spark, sf_dir, "documents")
        .select("lang", fold.alias("fold"), F.size(tokens("text")).alias("nt"))
        .groupBy("fold", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )


@query(
    "sample_stratified",
    f"""
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sha256(text), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_STRATUM_K}
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic sample: the K docs per lang with the
    smallest content hash — an order-free "random but reproducible"
    choice (the hash order is uniform over content, stable across runs
    and partitionings; doc_id breaks exact-duplicate ties). A single
    row_number over a mega-stratum would serialize that stratum through
    one task, so this delegates to the two-level (lang, salt) pre-top-K +
    merge, ``topk_per_group_twolevel`` (operators/scale.py) — same
    oracle, same rows."""
    from .scale import topk_per_group_twolevel

    return topk_per_group_twolevel(spark, sf_dir)


@query(
    "sample_weighted_k",
    f"""
    SELECT doc_id, lang, n_tokens, es_key, CAST(rk AS INTEGER) AS rk FROM (
      SELECT doc_id, lang, n_tokens, es_key,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rk
      FROM (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(ln({_hash_unit_sql('sha256(text)')})
                     / len(string_split(text, ' ')), 6) AS es_key
        FROM documents
      )
    ) WHERE rk <= {_STRATUM_K}
    """,
)
def sample_weighted_k(spark, sf_dir):
    """Weighted per-stratum sampling (Efraimidis–Spirakis), fully
    deterministic: the classic reservoir key u^(1/w) — equivalently
    ln(u)/w, the monotone form used here to avoid pow — with u drawn not
    from an RNG but from the document's content hash
    (``_hash_unit_sql``). Inclusion probability is ∝ token count (long
    documents are proportionally likelier), yet the sample is bit-stable
    across reruns, cluster sizes, and engines, and byte-identical
    duplicates get identical keys (the same contamination guarantee as
    ``split_train_test``). The key is rounded to 6dp BEFORE ranking with
    a doc_id tie-break, so last-ulp libm differences between engines
    cannot flip the order — that is what lets an inherently "random"
    sample pass an EXACT cross-engine hash gate. Same one-shuffle
    window top-K shape as ``sample_stratified``, and the same two-level
    merge scale path: top-K of a union is the top-K of per-partition
    top-Ks, so a mega-stratum splits into (lang, salt) pre-top-Ks."""
    docs = load(spark, sf_dir, "documents")
    u = F.expr(_hash_unit_sql("sha2(text, 256)"))
    nt = F.size(tokens("text"))
    d = docs.select(
        "doc_id",
        "lang",
        nt.cast("long").alias("n_tokens"),
        F.round(F.log(u) / nt, 6).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _STRATUM_K)
    )


@query(
    "text_repetition_filter",
    f"""
    SELECT doc_id,
           CAST(SUM(c) AS INTEGER) AS n_tokens,
           round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_tok_ratio,
           CAST(MAX(c) AS DOUBLE) / SUM(c) > {_REP_TAU} AS is_repetitive
    FROM (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    )
    GROUP BY doc_id
    """,
)
def text_repetition_filter(spark, sf_dir):
    """Gopher-style repetition screen: fraction of the document taken by
    its single most frequent token; degenerate boilerplate (keyword
    stuffing, template spam) scores high. Shape: explode -> count per
    (doc_id, term) -> max/sum per doc_id. Both aggregations partial
    map-side; the shuffle key doc_id is unique per doc so there is no
    skew by construction. The ratio is an int/int division of identical
    integers in both engines -> bit-identical doubles."""
    docs = load(spark, sf_dir, "documents")
    per_term = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    ratio = F.max("c").cast("double") / F.sum("c")
    return per_term.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_tokens"),
        F.round(ratio, 6).alias("top_tok_ratio"),
        (ratio > _REP_TAU).alias("is_repetitive"),
    )


@query(
    "pack_sequences",
    f"""
    SELECT source, CAST(bin AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS tokens_packed
    FROM (
      SELECT source, nt,
             CAST(floor(COALESCE(SUM(nt) OVER (PARTITION BY source
                                ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                        / {_PACK_CAPACITY}) AS BIGINT) AS bin
      FROM (SELECT source, doc_id,
                   len(string_split(text, ' ')) AS nt FROM documents)
    )
    GROUP BY source, bin
    """,
)
def pack_sequences(spark, sf_dir):
    """Sequence packing: stream documents (per source, doc_id order) into
    fixed token-budget bins — bin = floor(running-tokens-before / C).
    This is the deterministic streaming approximation of bin packing
    every large pretraining pipeline uses (exact packing is NP-hard and
    order-unstable); oversized docs still land in a bin and overflow it,
    matching "never split a document" packing. One window shuffle on
    source; skewed sources pack hierarchically at scale (pack within
    partition, then concatenate partial last-bins — capacity waste is at
    most one bin per partition boundary)."""
    return pack_bins(load(spark, sf_dir, "documents"))


def pack_bins(docs):
    """DataFrame-in transform behind ``pack_sequences`` (any frame with
    ``source``/``doc_id``/``text``) — also property-tested over generated
    corpora in tests/test_properties.py."""
    nt = F.size(tokens("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.select(
        "source",
        nt.alias("nt"),
        F.floor(
            F.coalesce(F.sum(nt).over(w), F.lit(0)) / _PACK_CAPACITY
        ).alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens_packed"),
    )


@query(
    "corpus_temperature_resample",
    f"""
    WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
    m AS (SELECT min(n_before) AS cmin FROM c),
    r AS (
      SELECT lang, n_before,
             round(sqrt(CAST(cmin AS DOUBLE) / n_before), 6) AS keep_rate
      FROM c, m
    ),
    k AS (
      SELECT d.lang, count(*) AS n_kept
      FROM documents d JOIN r USING (lang)
      WHERE {_hash_unit_sql('sha256(text)')} < keep_rate
      GROUP BY d.lang
    )
    SELECT lang, CAST(n_before AS BIGINT) AS n_before, keep_rate,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN k USING (lang)
    """,
)
def corpus_temperature_resample(spark, sf_dir):
    """Temperature (alpha = 0.5) language rebalancing — the multilingual
    LLM corpus-mixing rule: post-sample shares ∝ count^alpha, flattening
    the head languages without discarding the tail. Downsampling-only
    formulation: keep_rate(lang) = sqrt(c_min / c_lang), so the rarest
    language keeps 100% and resulting sizes ∝ sqrt(c_lang * c_min).
    Selection is the engine's standard content-hash uniform
    (``_hash_unit_sql``) against the per-lang rate — deterministic across
    reruns, engines, and cluster sizes, and byte-identical duplicates
    resolve identically. Shape: one per-lang count, a broadcast 1-row min,
    the rate dimension broadcast back onto the scan (narrow filter), and
    a per-lang kept-count — the corpus is scanned twice and shuffled
    never (both aggregations partial-combine to |langs| rows). The rate
    is 6dp-rounded BEFORE the comparison so last-ulp sqrt differences
    cannot flip a boundary document."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    cmin = counts.agg(F.min("n_before").alias("cmin"))
    rates = counts.crossJoin(F.broadcast(cmin)).select(  # |langs| x 1 row
        "lang",
        "n_before",
        F.round(
            F.sqrt(F.col("cmin").cast("double") / F.col("n_before")), 6
        ).alias("keep_rate"),
    )
    u = F.expr(_hash_unit_sql("sha2(text, 256)"))
    kept = (
        docs.join(F.broadcast(rates.select("lang", "keep_rate")), "lang")
        .filter(u < F.col("keep_rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(F.broadcast(kept), "lang", "left").select(
        "lang",
        "n_before",
        "keep_rate",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


_TEMPORAL_SPLIT = "2024-01-24"  # ~80/20 over the fixture's Jan 1-30 span


@query(
    "split_temporal_holdout",
    f"""
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN ts < TIMESTAMP '{_TEMPORAL_SPLIT}'
                  THEN 'train' ELSE 'test' END AS split
      FROM events
    ),
    shared AS (
      SELECT CAST(count(*) AS BIGINT) AS c FROM (
        SELECT user_id FROM s WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM s WHERE split = 'test'
      )
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           {duck_ts("min(ts)")} AS min_ts,
           {duck_ts("max(ts)")} AS max_ts,
           (SELECT c FROM shared) AS n_users_in_both
    FROM s GROUP BY split
    """,
)
def split_temporal_holdout(spark, sf_dir):
    """Time-based train/test holdout — the OTHER canonical split beside
    the content-hash one (``split_train_test``): everything before the
    boundary trains, everything after evaluates, which is the only split
    that is leakage-safe for forecasting/recommendation tasks (a random
    or hash split trains on the future). The census reports each side's
    volume, reach and time extent, plus the cross-split shared-user count
    — NOT a leak (user overlap is expected in temporal splits) but the
    number that distinguishes user-cold-start from warm-start evaluation.

    Shapes: one scan with the boundary predicate folded into a CASE (at
    scale: partition pruning makes each side read only its date range);
    the distinct-user counts are the only shuffles; the shared-user
    intersect runs at |users| grain. Timestamps exit as NTZ strings per
    the house discipline."""
    ev = load_events(spark, sf_dir)
    boundary = F.lit(_TEMPORAL_SPLIT).cast("timestamp_ntz")
    s = ev.select(
        "user_id",
        "ts",
        F.when(F.col("ts") < boundary, "train").otherwise("test").alias(
            "split"
        ),
    )
    shared = (
        s.filter("split = 'train'")
        .select("user_id")
        .intersect(s.filter("split = 'test'").select("user_id"))
        .agg(F.count("*").cast("long").alias("n_users_in_both"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            ts_str(F.min("ts")).alias("min_ts"),
            ts_str(F.max("ts")).alias("max_ts"),
        )
        .crossJoin(F.broadcast(shared))  # 2 rows x 1 row
    )


@query(
    "pack_efficiency_report",
    f"""
    WITH d AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS nt
      FROM documents
    ),
    stream AS (
      SELECT source,
             CAST(floor(COALESCE(SUM(nt) OVER (PARTITION BY source
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 / {_PACK_CAPACITY}) AS BIGINT) AS bin
      FROM d
    ),
    sorted_pack AS (
      SELECT source,
             CAST(floor(COALESCE(SUM(nt) OVER (PARTITION BY source
                 ORDER BY nt DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 / {_PACK_CAPACITY}) AS BIGINT) AS bin
      FROM d
    ),
    tot AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens FROM d GROUP BY source
    ),
    s1 AS (
      SELECT source, CAST(count(DISTINCT bin) AS BIGINT) AS bins_stream
      FROM stream GROUP BY source
    ),
    s2 AS (
      SELECT source, CAST(count(DISTINCT bin) AS BIGINT) AS bins_sorted
      FROM sorted_pack GROUP BY source
    )
    SELECT t.source, t.tokens,
           CAST((t.tokens + {_PACK_CAPACITY} - 1) // {_PACK_CAPACITY}
                AS BIGINT) AS bins_lower_bound,
           s1.bins_stream,
           round(CAST(t.tokens AS DOUBLE)
                 / (s1.bins_stream * {_PACK_CAPACITY}), 6) AS util_stream,
           s2.bins_sorted,
           round(CAST(t.tokens AS DOUBLE)
                 / (s2.bins_sorted * {_PACK_CAPACITY}), 6) AS util_sorted
    FROM tot t JOIN s1 USING (source) JOIN s2 USING (source)
    """,
)
def pack_efficiency_report(spark, sf_dir):
    """Packing-efficiency comparison: the arrival-order streaming packer
    (``pack_sequences``) against its length-descending variant (the
    streaming cousin of first-fit-decreasing — long docs placed first,
    short docs fill remainders), each scored by bins used and capacity
    utilization against the per-source lower bound ⌈tokens/C⌉. This is
    the table that justifies (or kills) a pre-sort stage in the packing
    pipeline: FFD-ordering buys utilization only when the length
    distribution is heavy-tailed, and the report makes the trade
    measurable per source rather than asserted.

    Both packings are the same windowed running-sum bin assignment with
    different ORDER BY (doc_id vs nt DESC, doc_id) — per-source windows,
    parallel across sources; the report is |sources| rows. All integer
    except the two utilization divisions, rounded once."""
    d = load(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).alias("nt")
    )

    def bins(order_cols, name):
        w = (
            Window.partitionBy("source")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            d.select(
                "source",
                F.floor(
                    F.coalesce(F.sum("nt").over(w), F.lit(0)) / _PACK_CAPACITY
                ).alias("bin"),
            )
            .groupBy("source")
            .agg(F.count_distinct("bin").alias(name))
        )

    tot = d.groupBy("source").agg(F.sum("nt").cast("long").alias("tokens"))
    s1 = bins([F.col("doc_id")], "bins_stream")
    s2 = bins([F.desc("nt"), F.col("doc_id")], "bins_sorted")
    lb = F.expr(
        f"CAST((tokens + {_PACK_CAPACITY} - 1) DIV {_PACK_CAPACITY} AS BIGINT)"
    )
    return (
        tot.join(s1, "source")
        .join(s2, "source")
        .select(
            "source",
            "tokens",
            lb.alias("bins_lower_bound"),
            "bins_stream",
            F.round(
                F.col("tokens").cast("double")
                / (F.col("bins_stream") * _PACK_CAPACITY),
                6,
            ).alias("util_stream"),
            "bins_sorted",
            F.round(
                F.col("tokens").cast("double")
                / (F.col("bins_sorted") * _PACK_CAPACITY),
                6,
            ).alias("util_sorted"),
        )
    )


@query(
    "split_grouped_holdout",
    """
    WITH sgb AS (
      SELECT source, text,
             CASE WHEN ((instr('0123456789abcdef',
                               substr(sha256(source), 1, 1)) - 1) * 16
                        + (instr('0123456789abcdef',
                                 substr(sha256(source), 2, 1)) - 1)) % 10 < 8
                  THEN 'train'
                  WHEN ((instr('0123456789abcdef',
                               substr(sha256(source), 1, 1)) - 1) * 16
                        + (instr('0123456789abcdef',
                                 substr(sha256(source), 2, 1)) - 1)) % 10 = 8
                  THEN 'valid' ELSE 'test' END AS split
      FROM documents
    ),
    sgt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
    SELECT split,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(count(*) * 1000000 // sgt.total AS BIGINT) AS doc_share_ppm
    FROM sgb, sgt GROUP BY split, sgt.total
    """,
)
def split_grouped_holdout(spark, sf_dir):
    """GROUP-aware train/valid/test holdout — the split `split_kfold_assign`
    (content-hash) and `split_train_test` don't give: the hash is taken on
    the SOURCE, so every document of a source lands in the SAME split.
    This is the leakage control for correlated groups — near-duplicate and
    stylistically-identical documents cluster within a source, and a
    per-document split leaks that shared signal from train into test
    (group k-fold in the scikit-learn taxonomy; the standard protocol for
    domain-held-out evaluation of web corpora). 80/10/10 by (first
    source-hash byte) mod 10 — a pure narrow map, recomputable identically
    on any executor forever, no stored split table at 100 TB. The
    grouping law (each source in exactly ONE split) holds by construction
    and is pinned in tests. Census exactness: counts, token sums, and the
    floor-div ppm share are all integers; the census groupBy is the only
    exchange and partial-aggregates map-side."""
    nib = lambda i: (  # noqa: E731 — mirrors the SQL nibble idiom
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.sha2("source", 256), i, 1)
        )
        - 1
    )
    bucket = (nib(1) * 16 + nib(2)) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "valid").otherwise("test")
    )
    docs = load(spark, sf_dir, "documents")
    tot = docs.agg(F.count("*").cast("long").alias("total"))
    return (
        docs.select(
            split.alias("split"),
            "source",
            F.size(tokens("text")).alias("nt"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))  # 3 rows x 1 row
        .select(
            "split",
            "n_sources",
            "n_docs",
            "n_tokens",
            F.expr("CAST(n_docs * 1000000 DIV total AS BIGINT)").alias(
                "doc_share_ppm"
            ),
        )
    )
