"""Corpus-curation operators: chunking, decontamination, PII scrubbing.

Completes the training-data-pipeline family (dedup.py / sampling.py /
text.py) with the three remaining stages every large pretraining corpus
passes through before tokenization: context-window chunking, benchmark
decontamination, and PII redaction. None exist in the reference (a
message-decryption pipeline, SURVEY §0); all are Spark-first built-in
column expressions — zero Python UDFs — and each carries an EXACT DuckDB
oracle.

Scale notes (100 TB):
- Chunking is a stateless narrow map (sequence/slice/posexplode) — no
  shuffle at all; output rows ~= corpus_tokens / stride, each chunk
  recomputable from its document alone.
- Decontamination is a shingle-hash equi-join. The benchmark side
  (test split / eval suites) is orders of magnitude smaller than the
  train side, so it is broadcast — the 100 TB train corpus streams
  through map-side without a shuffle of its shingles. Shingles travel
  as int64 xxhash64 fingerprints (8 bytes), not strings.
- PII scrubbing is a narrow map of regexp_replace chains; at scale it
  is bounded by scan + regex CPU and parallelizes perfectly.

Also here (relational coverage additions): a correlated-scalar-subquery
aggregate (TPC-H Q17 shape — exercises Catalyst's decorrelation into a
per-key aggregate join) and the percent_rank/cume_dist window surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.normalize import ts_str
from ..functions.textfns import tokens
from ..materialize import pin
from ..sources import load, load_events
from .base import make_registry

QUERIES, ORACLES, query = make_registry()

_CHUNK_W = 32  # tokens per chunk (context window)
_CHUNK_STRIDE = 24  # overlap = W - stride = 8 tokens
_SHINGLE_N = 5  # decontamination n-gram width

# Same content-hash split rule as sampling.split_train_test: first hex char
# of sha256(text); 'f' -> test (the "benchmark" side), < 'd' -> train.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_LONGNUM_RE = "[0-9]{6,}"


@query(
    "text_chunk_windows",
    f"""
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(least({_CHUNK_W}, nt - s) AS INTEGER) AS chunk_tokens,
           sha256(array_to_string(list_slice(toks, s + 1, s + {_CHUNK_W}), ' '))
             AS chunk_sha
    FROM (
      SELECT doc_id, toks, nt, unnest(range(0, nt, {_CHUNK_STRIDE})) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS nt
            FROM documents)
    )
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping context-window chunking: W=32-token windows at stride 24
    (8-token overlap), the standard prep for fixed-context training and
    embedding indexing. Pure narrow map — ``sequence`` emits the start
    offsets, ``slice`` + ``array_join`` materializes each chunk,
    ``posexplode``-free (chunk_idx derives from the offset, so the result
    is order-independent). At 100 TB this is scan-bound with zero
    exchange; chunk rows inherit the scan's partitioning."""
    return chunk_windows(load(spark, sf_dir, "documents"))


def chunk_windows(docs):
    """DataFrame-in transform behind ``text_chunk_windows`` (any frame
    with ``doc_id``/``text``) — also property-tested over generated
    corpora in tests/test_properties.py."""
    toks = tokens("text")
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("nt")
    )
    exploded = base.select(
        "doc_id",
        "toks",
        "nt",
        F.explode(
            F.sequence(F.lit(0), F.col("nt") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    return exploded.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK_W), F.col("nt") - F.col("s"))
        .cast("int")
        .alias("chunk_tokens"),
        F.sha2(
            F.array_join(F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_W)), " "),
            256,
        ).alias("chunk_sha"),
    )


@query(
    "decontam_ngram_overlap",
    f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN substr(sha256(text), 1, 1) < 'd' THEN 'train'
                  WHEN substr(sha256(text), 1, 1) < 'f' THEN 'val'
                  ELSE 'test' END AS split,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {_SHINGLE_N - 1}),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i, i + {_SHINGLE_N - 1}),
                      ' ')))) AS s
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_SHINGLE_N}
    )
    SELECT b.doc_id,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_contaminating_train_docs,
           CAST(count(DISTINCT t.s) AS BIGINT) AS n_shared_shingles
    FROM (SELECT * FROM sh WHERE split = 'test') b
    JOIN (SELECT * FROM sh WHERE split = 'train') t ON b.s = t.s
    GROUP BY b.doc_id
    """,
)
def decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: for each held-out (test-split) document,
    how many train-split documents share at least one 5-gram, and how many
    distinct 5-grams leak. This is the n-gram-overlap decontamination
    check pretraining pipelines run against eval suites. Shingles are
    distinct per doc, fingerprinted to int64 (xxhash64) so the join ships
    8 bytes per shingle; the benchmark side is broadcast — at 100 TB the
    train corpus never shuffles, it streams map-side past the broadcast
    hash table. (The EXACT oracle joins the literal shingle strings in
    DuckDB, which also certifies the fingerprint join collision-free on
    every fixture run.)"""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    h1 = F.substring(F.sha2("text", 256), 1, 1)
    split = F.when(h1 < "d", "train").when(h1 < "f", "val").otherwise("test")
    base = docs.select("doc_id", toks.alias("t"), split.alias("split")).filter(
        F.size("t") >= _SHINGLE_N
    )
    shingled = base.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_SHINGLE_N - 1)),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice("t", i, _SHINGLE_N), " ")
                    ),
                )
            )
        ).alias("s"),
    )
    bench = shingled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("b_doc"), "s"
    )
    train = shingled.filter(F.col("split") == "train").select("doc_id", "s")
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy(F.col("b_doc").alias("doc_id"))
        .agg(
            F.count_distinct("doc_id").alias("n_contaminating_train_docs"),
            F.count_distinct("s").alias("n_shared_shingles"),
        )
    )


@query(
    "text_pii_scrub",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(injected, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(
                  regexp_replace(injected, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{_LONGNUM_RE}')) AS INTEGER) AS n_longnums,
           sha256(regexp_replace(
                    regexp_replace(injected, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                    '{_LONGNUM_RE}', '<NUM>', 'g')) AS scrubbed_sha
    FROM (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@example.com now' ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' acct ' || CAST(doc_id * 7919 + 100000 AS VARCHAR)
                       ELSE '' END AS injected
      FROM documents
    )
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction: replace email addresses then long digit runs with
    typed placeholders, reporting per-doc match counts and the sha256 of
    the scrubbed text. The fixture corpus is synthetic and PII-free, so
    PII is first INJECTED deterministically (emails on doc_id%3==0,
    account numbers on doc_id%5==0) — the operator is exercised on real
    matches, and both engines inject identically. Long-number counting
    runs on the email-scrubbed text so digits inside addresses are not
    double-counted. Patterns restrict to the RE2 ∩ Java-regex common
    subset (character classes + bounded repetition, no lookaround) so
    Spark and DuckDB match identical spans. Narrow map, scan-bound,
    embarrassingly parallel at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" acct "),
                (F.col("doc_id") * 7919 + 100000).cast("string"),
            ),
        ).otherwise(""),
    )
    no_email = F.regexp_replace(injected, _EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(injected, F.lit(_EMAIL_RE), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_LONGNUM_RE), 0))
        .cast("int")
        .alias("n_longnums"),
        F.sha2(F.regexp_replace(no_email, _LONGNUM_RE, "<NUM>"), 256).alias(
            "scrubbed_sha"
        ),
    )


@query(
    "agg_correlated_subquery",
    """
    SELECT CAST(round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                           AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_lots
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
)
def agg_correlated_subquery(spark, sf_dir):
    """TPC-H Q17 shape: revenue impact of small-lot orders — lineitems
    below 20% of their part's average order quantity. Submitted as SQL
    with the correlated scalar subquery intact so Catalyst's
    decorrelation rewrites it (into a per-partkey aggregate joined back —
    visible in the plan as an extra Aggregate + Join, not a per-row
    re-execution). avg(l_quantity) is a sum of small integers in a
    double — exact in any accumulation order — and the revenue sum is
    DECIMAL(18,4) before the double finish, so both engines agree
    bit-for-bit. At scale the rewritten plan is two shuffles on
    l_partkey (pre-aggregate + join), both AQE-coalesced; the brand
    filter prunes the part side before the join."""
    for t in ("lineitem", "part"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"sg_{t}")
    return spark.sql(
        """
        SELECT CAST(round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                               AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly,
               count(*) AS n_small_lots
        FROM sg_lineitem l JOIN sg_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM sg_lineitem l2
                              WHERE l2.l_partkey = p.p_partkey)
        """
    )


@query(
    "win_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_distribution(spark, sf_dir):
    """Distribution window functions: percent_rank + cume_dist of customer
    account balance within market segment. Both derive from integer rank
    and partition count — rank/(n-1) and rank_ties/n — so they are
    deterministic doubles given the total order (c_custkey tie-break);
    6dp rounding guards the division. One window shuffle on the segment
    key; at scale a skewed segment serializes its partition — the scale
    path is the standard two-pass (per-partition histogram, then
    rank-from-offsets), not needed at fixture sizes."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


from .sampling import _hash_unit_sql as _hu  # content-hash uniform, shared

_HASH_UNIT_DOC_SQL = _hu("sha256(d.text)")
_HASH_UNIT_DOC_SPARK = _hu("sha2(text, 256)")


@query(
    "corpus_training_manifest",
    f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS nt
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
    ),
    deduped AS (
      SELECT doc_id, lang, text, nt FROM (
        SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    counts AS (SELECT lang, count(*) AS n_lang FROM deduped GROUP BY lang),
    m AS (SELECT min(n_lang) AS cmin FROM counts),
    rates AS (
      SELECT lang, round(sqrt(CAST(cmin AS DOUBLE) / n_lang), 6) AS keep_rate
      FROM counts, m
    ),
    sampled AS (
      SELECT d.doc_id, d.lang, d.nt
      FROM deduped d JOIN rates USING (lang)
      WHERE {{HASH_UNIT}} < keep_rate
    ),
    chunks AS (
      SELECT lang, doc_id,
             least({_CHUNK_W}, nt - s) AS chunk_tokens
      FROM (
        SELECT lang, doc_id, nt,
               unnest(range(0, nt, {_CHUNK_STRIDE})) AS s
        FROM sampled
      )
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS n_chunk_tokens
    FROM chunks GROUP BY lang
    """.replace("{HASH_UNIT}", _HASH_UNIT_DOC_SQL),
)
def corpus_training_manifest(spark, sf_dir):
    """The composed end-to-end training-data manifest — the single call a
    corpus team runs before a training job: quality floor (>= 20 tokens)
    -> exact-hash dedup (keep lowest doc_id) -> temperature (alpha = 0.5)
    language rebalancing (content-hash selection against
    sqrt(cmin/c_lang) rates computed over the SURVIVORS, not the raw
    corpus) -> overlapping 32/24 context-window chunking -> per-language
    manifest (docs, chunks, chunk-token budget). Every stage is one of
    this engine's proven operators composed declaratively; Catalyst
    pipelines the narrow stages, and the shuffles are the dedup hash
    partition, the per-lang counts, and the final census — the chunk
    explosion never shuffles. The whole five-stage DAG is EXACT-checked
    against one chained-CTE oracle, the strongest integration statement
    the gate can make."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    quality = docs.select(
        "doc_id", "lang", "text", F.size(toks).alias("nt")
    ).filter(F.col("nt") >= 20)
    wded = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(wded))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    counts = deduped.groupBy("lang").agg(F.count("*").alias("n_lang"))
    cmin = counts.agg(F.min("n_lang").alias("cmin"))
    rates = counts.crossJoin(F.broadcast(cmin)).select(  # |langs| x 1 row
        "lang",
        F.round(
            F.sqrt(F.col("cmin").cast("double") / F.col("n_lang")), 6
        ).alias("keep_rate"),
    )
    u = F.expr(_HASH_UNIT_DOC_SPARK)
    sampled = (
        deduped.join(F.broadcast(rates), "lang")
        .filter(u < F.col("keep_rate"))
        .select("lang", "doc_id", "nt")
    )
    chunks = sampled.select(
        "lang",
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("nt") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("s"),
        "nt",
    ).select(
        "lang",
        "doc_id",
        F.least(F.lit(_CHUNK_W), F.col("nt") - F.col("s")).alias(
            "chunk_tokens"
        ),
    )
    return chunks.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


@query(
    "corpus_source_mix",
    """
    WITH s AS (
      SELECT source, lang, count(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT SUM(n_tokens) AS all_tokens FROM s)
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(n_tokens AS DOUBLE) / all_tokens, 6) AS token_share,
           round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS avg_doc_tokens
    FROM s, tot
    """,
)
def corpus_source_mix(spark, sf_dir):
    """Source-mixture census — the per-(source, lang) token budget and
    corpus share a data-mixing recipe (Pile/Dolma-style source weights)
    starts from: what fraction of training tokens each source currently
    contributes and how long its documents run. One partial-aggregating
    groupBy (shuffle ∝ source x lang cells) plus a broadcast 1-row
    total; the two ratios are single double divisions, 6dp-rounded."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").alias("all_tokens"))
    return s.crossJoin(F.broadcast(tot)).select(  # cells x 1 row
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("all_tokens"), 6).alias(
            "token_share"
        ),
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "avg_doc_tokens"
        ),
    )


@query(
    "corpus_source_quality_report",
    """
    WITH q AS (
      SELECT doc_id, source, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             sha256(text) AS sha
      FROM documents
    ),
    dup AS (
      SELECT sha, count(*) AS copies FROM q GROUP BY sha
    )
    SELECT q.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT q.lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN q.n_tokens < 12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below_floor,
           CAST(SUM(CASE WHEN dup.copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs,
           round(CAST(SUM(CASE WHEN dup.copies >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS dup_ratio,
           CAST(SUM(q.n_chars) AS BIGINT) AS n_chars
    FROM q JOIN dup USING (sha)
    GROUP BY q.source
    """,
)
def corpus_source_quality_report(spark, sf_dir):
    """Per-source data-vendor scorecard — the table that decides which
    feeds get renegotiated: per source, docs, token volume, language
    spread, docs under the quality floor (<12 tokens — the
    corpus_clean_pipeline cut), docs participating in exact duplicates
    ANYWHERE in the corpus (cross-source copying shows up in BOTH
    sources' dup_ratio), and byte volume. One pass computes per-doc
    stats + content hash; the hash census joins back on the hash key
    (ids + hashes shuffle, never text); the final aggregate is
    |sources|-sized. At 100 TB this is the first report a curation run
    emits and the baseline the next snapshot's report diffs against."""
    q = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.sha2("text", 256).alias("sha"),
    )
    dup = q.groupBy("sha").agg(F.count("*").alias("copies"))
    j = q.join(dup, "sha")
    is_dup = F.when(F.col("copies") >= 2, 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.when(F.col("n_tokens") < 12, 1).otherwise(0))
        .cast("long")
        .alias("n_below_floor"),
        F.sum(is_dup).cast("long").alias("n_exact_dup_docs"),
        F.round(F.sum(is_dup).cast("double") / F.count("*"), 6).alias(
            "dup_ratio"
        ),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "dq_rule_violations",
    """
    SELECT 'lineitem_discount_range' AS rule,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_checked,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.5) AS n_violations
    UNION ALL
    SELECT 'lineitem_positive_quantity',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'lineitem_ship_after_order',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE l.l_shipdate < o.o_orderdate)
    UNION ALL
    SELECT 'orders_customer_fk',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'events_props_parseable',
           (SELECT CAST(count(*) AS BIGINT) FROM events),
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE CASE WHEN props IS NOT NULL AND json_valid(props)
                       THEN json_extract_string(props, '$.k') IS NULL
                       ELSE TRUE END)
    """,
)
def dq_rule_violations(spark, sf_dir):
    """Declarative data-quality rule census (the deequ / dbt-test shape):
    five contract rules — a value-range check, a positivity check, a
    cross-table temporal invariant (ship ≥ order date), a foreign-key
    existence check (anti-join count), and a payload-parseability check
    — each reported as (rule, rows checked, violations). Zero is the
    expected steady state; the table exists so a bad load turns into a
    named nonzero instead of a downstream mystery. Shapes: each rule is
    one filtered count (predicates pushed to the scans), the FK rule an
    anti join against the broadcast dim, the temporal rule the orderkey
    equi-join; a production run fuses same-table rules into one
    conditional aggregate per scan — the bloom-census pattern.

    Cross-engine note: Spark ``get_json_object`` returns SQL NULL for
    malformed JSON, a missing path, and a JSON ``null`` value alike; the
    oracle mirrors all three via ``CASE WHEN json_valid(...) THEN
    json_extract_string(...) IS NULL ELSE TRUE END`` (DuckDB's bare
    ``json_extract`` would instead raise on malformed input and return
    non-NULL ``'null'`` for ``{"k": null}`` — probed on both engines, all
    five edge shapes agree)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ev = load_events(spark, sf_dir)

    def rule(name, checked_df, violation_cond=None, violations_df=None):
        n = checked_df.agg(F.count("*").alias("n_checked"))
        v = (
            violations_df
            if violations_df is not None
            else checked_df.filter(violation_cond)
        ).agg(F.count("*").alias("n_violations"))
        return (
            n.crossJoin(F.broadcast(v))  # 1 row x 1 row
            .select(
                F.lit(name).alias("rule"), "n_checked", "n_violations"
            )
        )

    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    parts = [
        rule(
            "lineitem_discount_range",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
        ),
        rule("lineitem_positive_quantity", li, F.col("l_quantity") <= 0),
        rule(
            "lineitem_ship_after_order",
            lo,
            F.col("l_shipdate") < F.col("o_orderdate"),
        ),
        rule(
            "orders_customer_fk",
            o,
            violations_df=o.join(
                F.broadcast(c),
                o.o_custkey == c.c_custkey,
                "left_anti",
            ),
        ),
        rule(
            "events_props_parseable",
            ev,
            F.get_json_object("props", "$.k").isNull(),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "decontam_span_max",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN substr(sha256(text), 1, 1) < 'd' THEN 'train'
                  WHEN substr(sha256(text), 1, 1) < 'f' THEN 'val'
                  ELSE 'test' END AS split,
             string_split(text, ' ') AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_SHINGLE_N}
    ),
    p2 AS (
      SELECT b.doc_id, b.split, i.i AS i,
             array_to_string(list_slice(b.t, i.i, i.i + {_SHINGLE_N - 1}), ' ')
               AS s
      FROM base b, LATERAL (
        SELECT unnest(generate_series(1, len(b.t) - {_SHINGLE_N - 1})) AS i
      ) i
    ),
    tr AS (SELECT DISTINCT s FROM p2 WHERE split = 'train'),
    m AS (
      SELECT p.doc_id, p.i FROM p2 p JOIN tr USING (s)
      WHERE p.split = 'test'
    ),
    runs AS (
      SELECT doc_id,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM m
    ),
    sp AS (SELECT doc_id, count(*) AS run FROM runs GROUP BY doc_id, g),
    agg AS (
      SELECT doc_id,
             CAST(sum(run) AS BIGINT) AS n_matched_positions,
             CAST(max(run) + {_SHINGLE_N - 1} AS BIGINT) AS max_span_tokens
      FROM sp GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(len(b.t) - {_SHINGLE_N - 1} AS BIGINT) AS n_positions,
           a.n_matched_positions,
           a.max_span_tokens
    FROM agg a JOIN base b USING (doc_id)
    """,
)
def decontam_span_max(spark, sf_dir):
    """Span-level decontamination — the GPT-3/Llama-report flavor the
    sibling ``decontam_ngram_overlap`` doesn't measure: not just WHETHER a
    held-out document shares 5-grams with the train split, but the LONGEST
    CONTIGUOUS contaminated run (in tokens). A single shared idiom reads
    max_span = n-gram width; a verbatim lifted passage reads tens of
    tokens — the difference between 'discard the doc' and 'ignore'.

    Mechanics: every 5-gram START POSITION of a test doc is matched
    against the train split's distinct-shingle set; matched positions form
    runs via gaps-and-islands (pos − row_number, window PARTITIONED by
    doc — parallel), and a run of R consecutive matched starts covers
    R + 4 tokens. Scale: the benchmark (test) side is tiny and broadcast;
    the train corpus streams past it map-side, ships one distinct int64
    fingerprint per shingle, and is never sorted (the oracle joins literal
    strings, re-certifying the fingerprint join collision-free). Only
    contaminated docs emit rows, like the sibling op."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    h1 = F.substring(F.sha2("text", 256), 1, 1)
    split = F.when(h1 < "d", "train").when(h1 < "f", "val").otherwise("test")
    base = docs.select("doc_id", toks.alias("t"), split.alias("split")).filter(
        F.size("t") >= _SHINGLE_N
    )
    pos = base.select(
        "doc_id",
        "split",
        F.size("t").alias("nt"),
        F.explode(
            F.sequence(F.lit(1), F.size("t") - (_SHINGLE_N - 1))
        ).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        "split",
        "nt",
        "i",
        F.xxhash64(F.array_join(F.slice("t", F.col("i"), _SHINGLE_N), " ")).alias(
            "s"
        ),
    )
    test_pos = pos.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("b_doc"), F.col("nt").alias("b_nt"), "i", "s"
    )
    train_sh = pos.filter(F.col("split") == "train").select("s").distinct()
    matched = train_sh.join(F.broadcast(test_pos), "s").select(
        "b_doc", "b_nt", "i"
    )
    w = Window.partitionBy("b_doc").orderBy("i")
    runs = matched.withColumn("g", F.col("i") - F.row_number().over(w))
    sp = runs.groupBy("b_doc", "b_nt", "g").agg(F.count("*").alias("run"))
    return sp.groupBy("b_doc", "b_nt").agg(
        F.sum("run").cast("long").alias("n_matched_positions"),
        (F.max("run") + (_SHINGLE_N - 1)).cast("long").alias("max_span_tokens"),
    ).select(
        F.col("b_doc").alias("doc_id"),
        (F.col("b_nt") - (_SHINGLE_N - 1)).cast("long").alias("n_positions"),
        "n_matched_positions",
        "max_span_tokens",
    )


_BUDGET_PCT = 90  # token budget = 90% of the corpus — probed: the fair
# share (budget/20 sources ≈ 1.2k tokens) then EXCEEDS the smallest
# sources' capacity at both fixture SFs, so the cap regime AND the
# proportional-refill regime are both exercised (at 60% nothing capped);
# refill can never overshoot: leftover <= headroom because budget <= corpus


@query(
    "corpus_budget_waterfill",
    f"""
    WITH cap AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(avail) AS BIGINT) AS corpus,
             CAST(SUM(avail) * {_BUDGET_PCT} // 100 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS n_src
      FROM cap
    ),
    r1 AS (
      SELECT c.source, c.avail,
             least(c.avail, t.budget // t.n_src) AS a1
      FROM cap c, tot t
    ),
    lo AS (
      SELECT CAST(t.budget - SUM(r.a1) AS BIGINT) AS leftover,
             CAST(SUM(r.avail - r.a1) AS BIGINT) AS headroom
      FROM r1 r, tot t GROUP BY t.budget
    )
    SELECT r.source,
           CAST(r.avail AS BIGINT) AS avail_tokens,
           CAST(r.a1 + CASE WHEN l.headroom > 0
                 THEN (r.avail - r.a1) * l.leftover // l.headroom
                 ELSE 0 END AS BIGINT) AS alloc_tokens,
           round(CAST(r.a1 + CASE WHEN l.headroom > 0
                 THEN (r.avail - r.a1) * l.leftover // l.headroom
                 ELSE 0 END AS DOUBLE) / r.avail, 6) AS epochs
    FROM r1 r, lo l
    """,
)
def corpus_budget_waterfill(spark, sf_dir):
    """Token-budget allocation across sources with capacity caps — the
    waterfilling step of Dolma/LLaMA-style data mixing: a fair per-source
    share of the training budget, capped at each source's available
    tokens (nobody is asked for epochs it can't supply without repeats),
    with the stranded remainder of capped sources redistributed
    proportionally to the others' remaining headroom. Two FIXED rounds
    (fair-share-with-cap, then one proportional refill) — the bounded
    unroll of true iterative waterfilling, exactly replayed by the
    oracle. All-integer: token counts are ints, shares use floor-div
    against the summed headroom, so no float accumulation anywhere; the
    reported ``epochs`` (allocation/available — >1 would mean repeats)
    is the only division, rounded once.

    Shapes: one per-source census (partial-aggregating groupBy to
    |sources| rows), then broadcast 1-row totals — the allocation table
    itself is dimension-sized at any corpus scale. The downstream
    consumer is ``sample_weighted_k``/``corpus_temperature_resample``:
    this op decides HOW MUCH of each source; those decide WHICH rows."""
    cap = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(tokens("text"))).cast("long").alias("avail"))
    )
    tot = cap.agg(
        F.sum("avail").cast("long").alias("corpus"),
        F.expr(f"CAST(SUM(avail) * {_BUDGET_PCT} DIV 100 AS BIGINT)").alias(
            "budget"
        ),
        F.count("*").cast("long").alias("n_src"),
    )
    r1 = cap.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail",
        F.least(F.col("avail"), F.expr("budget DIV n_src")).alias("a1"),
        "budget",
    )
    lo = r1.agg(
        (F.max("budget") - F.sum("a1")).cast("long").alias("leftover"),
        F.sum(F.col("avail") - F.col("a1")).cast("long").alias("headroom"),
    )
    alloc = F.col("a1") + F.when(
        F.col("headroom") > 0,
        F.expr("(avail - a1) * leftover DIV headroom"),
    ).otherwise(F.lit(0))
    return r1.crossJoin(F.broadcast(lo)).select(
        "source",
        F.col("avail").alias("avail_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        F.round(alloc.cast("double") / F.col("avail"), 6).alias("epochs"),
    )


_PSI_EDGES = (0.1, 1.0, 5.0, 20.0, 50.0, 100.0, 200.0)  # 8 value bands
_PSI_SPLIT_DAY = 15  # window A = month days 1..15, window B = 16..31


def _psi_bucket_sql(col: str) -> str:
    branches = "".join(
        f"WHEN {col} < {e} THEN {i} " for i, e in enumerate(_PSI_EDGES)
    )
    return f"CASE {branches}ELSE {len(_PSI_EDGES)} END"


def _psi_bucket(col):
    out = None
    for i, e in enumerate(_PSI_EDGES):
        cond = F.col(col) < e
        out = F.when(cond, i) if out is None else out.when(cond, i)
    return out.otherwise(len(_PSI_EDGES))


@query(
    "dq_distribution_drift_psi",
    f"""
    WITH b AS (
      SELECT event_type,
             CASE WHEN day(ts) <= {_PSI_SPLIT_DAY} THEN 'a' ELSE 'b' END AS w,
             {_psi_bucket_sql('value')} AS bucket
      FROM events
    ),
    grid AS (
      SELECT event_type, bucket,
             SUM(CASE WHEN w = 'a' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN w = 'b' THEN 1 ELSE 0 END) AS cb
      FROM b GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb,
             count(*) AS k
      FROM grid GROUP BY 1
    ),
    terms AS (
      SELECT g.event_type, t.na, t.nb,
             CAST(round(
               (CAST((g.ca + 1) * (t.nb + t.k) - (g.cb + 1) * (t.na + t.k)
                     AS DOUBLE)
                / CAST((t.na + t.k) * (t.nb + t.k) AS DOUBLE))
               * ln(CAST((g.ca + 1) * (t.nb + t.k) AS DOUBLE)
                    / CAST((g.cb + 1) * (t.na + t.k) AS DOUBLE))
               * 1000000000) AS BIGINT) AS ti
      FROM grid g JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(max(na) AS BIGINT) AS n_first,
           CAST(max(nb) AS BIGINT) AS n_second,
           round(CAST(SUM(ti) AS DOUBLE) / 1000000000, 6) AS psi
    FROM terms GROUP BY event_type
    """,
)
def dq_distribution_drift_psi(spark, sf_dir):
    """Population-stability-index drift monitor — the data-quality gate a
    production feed runs between time windows ("did the value
    distribution move?"): per event_type, the PSI between the first and
    second half of the month over fixed value bands,
    PSI = Σ_buckets (p_i − q_i)·ln(p_i / q_i), Laplace-smoothed (+1 per
    observed bucket) so empty bands stay finite. Rule of thumb read by
    the consumer: <0.1 stable, 0.1-0.25 moderate shift, >0.25 drifted.

    Determinism: fixed LITERAL band edges (no quantile estimation —
    drift monitors pin their bands precisely so readings are comparable
    across runs), both smoothed shares kept as exact integer fractions,
    the per-bucket term evaluated with one double division + one ln +
    one product and int64-quantized at 1e9 BEFORE the per-type sum
    (8 buckets/type, but the quantize-then-sum idiom keeps it
    partition-order-free anyway). Scale: one pass over the fact table
    into a (type × band × window) grid that partial-aggregates map-side
    to ≤ |types|·|bands| rows — the monitor costs one scan regardless of
    table size."""
    ev = load_events(spark, sf_dir)
    b = ev.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= _PSI_SPLIT_DAY, "a")
        .otherwise("b")
        .alias("w"),
        _psi_bucket("value").alias("bucket"),
    )
    grid = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("w") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("w") == "b", 1).otherwise(0)).alias("cb"),
    )
    # per-type totals as a window over the already-tiny grid (≤ |types|·
    # |bands| rows) instead of a second aggregate joined back — the
    # latter plans TWO scans of the fact table (self-referencing lineage)
    wt = Window.partitionBy("event_type")
    totals = grid.select(
        "event_type",
        "ca",
        "cb",
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
        F.count("*").over(wt).alias("k"),
    )
    sa = (F.col("ca") + 1) * (F.col("nb") + F.col("k"))
    sb = (F.col("cb") + 1) * (F.col("na") + F.col("k"))
    den = (F.col("na") + F.col("k")) * (F.col("nb") + F.col("k"))
    ti = F.round(
        ((sa - sb).cast("double") / den.cast("double"))
        * F.log(sa.cast("double") / sb.cast("double"))
        * 1_000_000_000
    ).cast("long")
    return (
        totals.select("event_type", "na", "nb", ti.alias("ti"))
        .groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("n_first"),
            F.max("nb").cast("long").alias("n_second"),
            F.round(F.sum("ti").cast("double") / 1_000_000_000, 6).alias(
                "psi"
            ),
        )
    )


_RRF_K = 60  # reciprocal-rank-fusion damping (the standard literature value)
_RRF_TOPN = 100  # curated shortlist size

from .text import ORACLES as _TXT_O  # noqa: E402 — signal oracles, reused
from .sampling import ORACLES as _SMP_O  # noqa: E402


@query(
    "corpus_quality_rank_fusion",
    f"""
    WITH lm AS MATERIALIZED ({_TXT_O["text_unigram_logprob"]}),
    ent AS MATERIALIZED ({_TXT_O["text_entropy_char"]}),
    rep AS MATERIALIZED ({_SMP_O["text_repetition_filter"]}),
    rl AS (SELECT doc_id, row_number() OVER
             (ORDER BY avg_neg_logprob, doc_id) AS r FROM lm),
    re_ AS (SELECT doc_id, row_number() OVER
             (ORDER BY char_entropy DESC, doc_id) AS r FROM ent),
    rr AS (SELECT doc_id, row_number() OVER
             (ORDER BY top_tok_ratio, doc_id) AS r FROM rep),
    fused AS (
      SELECT rl.doc_id,
             CAST(rl.r AS BIGINT) AS r_lm,
             CAST(re_.r AS BIGINT) AS r_entropy,
             CAST(rr.r AS BIGINT) AS r_repetition,
             round(CAST(1.0 AS DOUBLE) / ({_RRF_K} + rl.r)
                   + CAST(1.0 AS DOUBLE) / ({_RRF_K} + re_.r)
                   + CAST(1.0 AS DOUBLE) / ({_RRF_K} + rr.r), 6) AS rrf
      FROM rl JOIN re_ USING (doc_id) JOIN rr USING (doc_id)
    )
    SELECT doc_id, r_lm, r_entropy, r_repetition, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPN}
    """,
)
def corpus_quality_rank_fusion(spark, sf_dir):
    """Reciprocal-rank-fusion curation shortlist — how production corpus
    pipelines COMBINE quality signals whose scales don't commensurate
    (an LM logprob, a char-entropy, a repetition ratio): each signal
    contributes only its RANK, fused as Σ 1/({_RRF_K}+rank) (the
    standard RRF with k={_RRF_K}), and the top {_RRF_TOPN} docs form the
    curated shortlist. Signal directions: lower neg-logprob, higher
    entropy, lower repetition = better; each ordering carries a doc_id
    tie-break so ranks are total cross-engine.

    Scale shape: the three global ranks run on the DISTRIBUTED rank
    machinery (`_global_rank` — range repartition, parallel
    per-partition row_number, bounded offset fix-up; the oracle runs the
    plain windows, so the machinery is value-proven on three more
    orderings), then a 3-way doc-grain join and a top-N
    TakeOrderedAndProject. Determinism of the fusion itself: 1/(k+r) is
    one double division of exact small integers and the 3-term sum is a
    single fixed expression tree — identical IEEE result in both
    engines, rounded once at 6dp."""
    from .scale import _global_rank
    from .sampling import QUERIES as SMPQ
    from .text import QUERIES as TXTQ

    def rank_of(df, *order):
        ranked, _ = _global_rank(df, *order)
        return ranked.select("doc_id", F.col("rk").alias("r"))

    rl = rank_of(
        TXTQ["text_unigram_logprob"](spark, sf_dir).select(
            "doc_id", "avg_neg_logprob"
        ),
        F.col("avg_neg_logprob"),
        F.col("doc_id"),
    )
    re_ = rank_of(
        TXTQ["text_entropy_char"](spark, sf_dir).select(
            "doc_id", "char_entropy"
        ),
        F.desc("char_entropy"),
        F.col("doc_id"),
    )
    rr = rank_of(
        SMPQ["text_repetition_filter"](spark, sf_dir).select(
            "doc_id", "top_tok_ratio"
        ),
        F.col("top_tok_ratio"),
        F.col("doc_id"),
    )
    fused = (
        rl.select("doc_id", F.col("r").alias("r_lm"))
        .join(re_.select("doc_id", F.col("r").alias("r_entropy")), "doc_id")
        .join(rr.select("doc_id", F.col("r").alias("r_repetition")), "doc_id")
    )
    rrf = F.round(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lm"))
        + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_entropy"))
        + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_repetition")),
        6,
    )
    return (
        fused.select(
            "doc_id", "r_lm", "r_entropy", "r_repetition", rrf.alias("rrf")
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOPN)
    )


_NOV_W = 5  # tokens per shingle for the novelty curve


@query(
    "corpus_ngram_novelty_curve",
    f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS t
               FROM documents),
    g AS (
      SELECT DISTINCT source,
             substr(sha256(array_to_string(t[i.i : i.i + {_NOV_W - 1}], ' ')),
                    1, 16) AS fp
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(t) - {_NOV_W - 1}))
                       AS i) i
      WHERE len(t) >= {_NOV_W}
    ),
    f AS (SELECT fp, min(source) AS first_src FROM g GROUP BY fp)
    SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_distinct_grams,
           CAST(SUM(CASE WHEN f.first_src = g.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel_grams,
           round(CAST(SUM(CASE WHEN f.first_src = g.source THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty_rate
    FROM g JOIN f USING (fp)
    GROUP BY g.source
    """,
)
def corpus_ngram_novelty_curve(spark, sf_dir):
    """N-gram novelty curve — the diminishing-returns signal a corpus
    acquisition pipeline reads before paying for another source: for
    each source (in the deterministic ingestion order — here the source
    name's total order), what fraction of its distinct {_NOV_W}-token
    shingles has never been seen in any earlier source. A source whose
    novelty_rate collapses adds tokens but not information (the
    scaling-laws "dedup your data before scaling it" argument made
    measurable per-source; fixture reads 82-100%, i.e. this synthetic
    corpus still has headroom). "First seen" is computed as
    min(source) per gram — an aggregation, NOT a cumulative scan, so
    the whole curve costs two hash-grouped shuffles of 16-char
    sha-prefix keys (grams never travel as text) regardless of how many
    sources exist; the gram enumeration is a narrow explode. The same
    curve over ingestion TIME instead of source falls out by swapping
    the min() key."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # single-row-group fixture:
        # spread the narrow shingle explode (the dedup._parallel pattern)
    )
    t = docs.select("source", tokens("text").alias("t")).filter(
        F.size("t") >= _NOV_W
    )
    g = (
        t.select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (_NOV_W - 1))
            ).alias("i"),
            "t",
        )
        .select(
            "source",
            F.substring(
                F.sha2(
                    F.array_join(
                        F.expr(f"slice(t, i, {_NOV_W})"), " "
                    ),
                    256,
                ),
                1,
                16,
            ).alias("fp"),
        )
        .distinct()
    )
    f = g.groupBy("fp").agg(F.min("source").alias("first_src"))
    novel = F.when(F.col("first_src") == F.col("source"), 1).otherwise(0)
    return (
        g.join(f, "fp")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            F.sum(novel).cast("long").alias("n_novel_grams"),
            F.round(
                F.sum(novel).cast("double") / F.count("*"), 6
            ).alias("novelty_rate"),
        )
    )


@query(
    "dq_referential_integrity_audit",
    """
    WITH checks AS (
      SELECT 'lineitem.l_orderkey -> orders' AS relationship,
             (SELECT count(*) FROM lineitem) AS n_child,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'supplier.s_nationkey -> nation',
             (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM supplier s
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = s.s_nationkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey -> supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
    )
    SELECT relationship,
           CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
    FROM checks
    """,
)
def dq_referential_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the star schema — the DQ gate
    an ingestion pipeline runs before promoting a snapshot: per declared
    FK relationship, how many child rows reference a missing parent.
    Each check is a LEFT-ANTI join (the Spark decorrelation of NOT
    EXISTS): the parent side is the KEY DOMAIN only (dims broadcast;
    the orders-key domain for the lineitem check shuffles ids, nothing
    wider), so at 100 TB every audit row costs one semi-structured pass
    of the child's key column — column pruning means the scans read one
    column each. A healthy snapshot reads all-zeros; the op exists so a
    broken one is a diff in THIS table, not a silent join fan-in
    downstream."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")

    def check(name, child, key, parent, pkey, broadcast_parent=True):
        pk = parent.select(pkey).distinct()
        if broadcast_parent:
            pk = F.broadcast(pk)
        orphans = child.select(key).join(
            pk, child[key] == pk[pkey], "left_anti"
        )
        return (
            child.select(F.lit(1))
            .agg(F.count("*").alias("n_child"))
            .crossJoin(orphans.agg(F.count("*").alias("n_orphans")))
            .select(
                F.lit(name).alias("relationship"),
                F.col("n_child").cast("long"),
                F.col("n_orphans").cast("long"),
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )

    rows = [
        check("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey"),
        check("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"),
        check("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"),
        check("supplier.s_nationkey -> nation", s, "s_nationkey", n, "n_nationkey"),
        check("lineitem.l_suppkey -> supplier", li, "l_suppkey", s, "s_suppkey"),
    ]
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), rows)


# --- table integrity fingerprints (round 8) --------------------------------

# (table, canonical-row-string SQL, Spark column builder name) — the row
# canonicalization must be INTEGER-exact in both engines: doubles go
# through DECIMAL(18,4)·10⁴ (no fractional part survives the cast, so
# Spark's truncating vs DuckDB's rounding decimal→int semantics can't
# diverge), timestamps become epoch-day integers, strings pass through.
_FP_MOD = 1 << 60


def _fp_nibbles(h):
    """First 15 hex nibbles of a sha256 hex digest as one int64 — the
    portable hash→integer bridge (no conv() in DuckDB, no xxhash64 in
    DuckDB; instr-nibble arithmetic exists in both)."""
    out = None
    for j in range(1, 16):
        nib = (
            F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1
        ).cast("long")  # widen BEFORE the fold — 15 nibbles overflow int32
        out = nib if out is None else out * 16 + nib
    return out


def _fp_nibbles_sql(h: str) -> str:
    out = "0"
    for j in range(1, 16):
        out = f"({out}) * 16 + (instr('0123456789abcdef', substr({h}, {j}, 1)) - 1)"
    return f"CAST({out} AS BIGINT)"


_FP_TABLES = {
    "orders": (
        "concat(o_orderkey, '|', o_custkey, '|', "
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT), '|', "
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))"
    ),
    "customer": (
        "concat(c_custkey, '|', c_name, '|', c_nationkey, '|', "
        "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS BIGINT), '|', "
        "c_mktsegment)"
    ),
    "lineitem": (
        "concat(l_orderkey, '|', l_partkey, '|', l_suppkey, '|', "
        "l_linenumber, '|', "
        "CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT), '|', "
        "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT), '|', "
        "l_returnflag, '|', l_linestatus)"
    ),
}


@query(
    "dq_table_fingerprint",
    " UNION ALL ".join(
        f"""
    SELECT '{t}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
           CAST(CAST(SUM(CAST(fp AS DECIMAL(38,0))) % {_FP_MOD} AS BIGINT)
                AS BIGINT) AS sum_fp_mod
    FROM (SELECT {_fp_nibbles_sql(f"sha256({expr})")} AS fp FROM {t})
    """
        for t, expr in _FP_TABLES.items()
    ),
)
def dq_table_fingerprint(spark, sf_dir):
    """Order-insensitive table fingerprints — the ingest-integrity /
    replication-audit primitive: after copying 100 TB between stores (or
    re-partitioning, or a lossless engine migration) you want ONE number
    per table that says 'byte-for-byte the same rows', computable by
    both sides independently without sorting anything. Per row: a
    canonical integer-exact string (doubles via DECIMAL·10⁴, dates as
    epoch days — see `_FP_TABLES`), sha256, first 15 hex nibbles as an
    int64. Per table: XOR-fold (order-insensitive, but pairwise
    duplicate rows cancel) PLUS a mod-2⁶⁰ additive fold (catches what
    XOR cancels) and the row count — three independent lanes an
    accidental mutation would have to conspire past. Scale shape: one
    narrow full scan per table, partial-aggregating to a 1-row result —
    no shuffle wider than the partial aggregates; the folds are
    commutative so shards/partitions combine freely (the HLL/CMS
    mergeable-summary property, here for exactness)."""
    parts = []
    for t in _FP_TABLES:
        # Spark side mirrors each table's canonical string from
        # _FP_TABLES (datediff argument order differs from DuckDB's
        # date_diff, hence the explicit builders)
        src = load(spark, sf_dir, t)
        if t == "orders":
            row = F.concat_ws(
                "|",
                F.col("o_orderkey"),
                F.col("o_custkey"),
                (F.col("o_totalprice").cast("decimal(18,4)") * 10000).cast(
                    "long"
                ),
                F.datediff(
                    F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
                ),
            )
        elif t == "customer":
            row = F.concat_ws(
                "|",
                F.col("c_custkey"),
                F.col("c_name"),
                F.col("c_nationkey"),
                (F.col("c_acctbal").cast("decimal(18,4)") * 10000).cast("long"),
                F.col("c_mktsegment"),
            )
        else:
            row = F.concat_ws(
                "|",
                F.col("l_orderkey"),
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_linenumber"),
                (F.col("l_quantity").cast("decimal(18,4)") * 10000).cast("long"),
                (F.col("l_extendedprice").cast("decimal(18,4)") * 10000).cast(
                    "long"
                ),
                F.col("l_returnflag"),
                F.col("l_linestatus"),
            )
        fp = src.select(_fp_nibbles(F.sha2(row, 256)).alias("fp"))
        parts.append(
            fp.agg(
                F.lit(t).alias("table_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.expr("bit_xor(fp)").cast("long").alias("xor_fp"),
                (F.sum(F.col("fp").cast("decimal(38,0)")) % F.lit(_FP_MOD))
                .cast("long")
                .alias("sum_fp_mod"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_COLS = [
    # (name, kind) — kind drives the exact canonical min/max lane:
    # ints straight through, doubles via DECIMAL(18,4)·10⁴, dates as epoch
    # days, strings lexicographic (binary collation in both engines)
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
]


def _profile_branch_sql(name: str, kind: str) -> str:
    if kind == "int":
        val, mn, mx = name, f"min({name})", f"max({name})"
    elif kind == "money":
        val = f"CAST(CAST({name} AS DECIMAL(18,4)) * 10000 AS BIGINT)"
        mn, mx = f"min({val})", f"max({val})"
    elif kind == "date":
        val = f"date_diff('day', DATE '1970-01-01', CAST({name} AS DATE))"
        mn, mx = f"min({val})", f"max({val})"
    else:
        val, mn, mx = name, "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)"
    smin = f"min({name})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    smax = f"max({name})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    return f"""
    SELECT '{name}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({name}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
           CAST({mn} AS BIGINT) AS min_int, CAST({mx} AS BIGINT) AS max_int,
           {smin} AS min_str, {smax} AS max_str
    FROM orders"""


@query(
    "dq_column_profile",
    " UNION ALL ".join(
        _profile_branch_sql(n, k) for n, k in _PROFILE_COLS
    ),
)
def dq_column_profile(spark, sf_dir):
    """Column-level data profile of the orders table — the first report
    any ingest/contract check runs: per column, row count, null count,
    EXACT distinct cardinality, and typed min/max (integer lane for
    keys/money/dates — doubles canonicalized through DECIMAL·10⁴, dates
    as epoch days, so the numbers are cross-engine exact; string lane
    lexicographic). The profile is what feeds null-rate SLAs, key
    uniqueness checks (n_distinct = n_rows on o_orderkey), and stats
    drift alarms between loads. Scale shape: one pass per column of
    partial-aggregating COUNT/MIN/MAX plus an exact distinct (shuffle ∝
    distinct values — swap in the HLL op's sketch when approximate is
    acceptable); at 100 TB this is the job you run once per load, not
    per query."""
    src = load(spark, sf_dir, "orders")
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "int":
            val = F.col(name)
        elif kind == "money":
            val = (F.col(name).cast("decimal(18,4)") * 10000).cast("long")
        elif kind == "date":
            val = F.datediff(
                F.to_date(name), F.lit("1970-01-01").cast("date")
            )
        else:
            val = None
        mn = F.min(val).cast("long") if val is not None else F.lit(None).cast("long")
        mx = F.max(val).cast("long") if val is not None else F.lit(None).cast("long")
        smin = (
            F.min(name) if kind == "str" else F.lit(None).cast("string")
        )
        smax = (
            F.max(name) if kind == "str" else F.lit(None).cast("string")
        )
        parts.append(
            src.agg(
                F.lit(name).alias("column_name"),
                F.count("*").cast("long").alias("n_rows"),
                (F.count("*") - F.count(name)).cast("long").alias("n_nulls"),
                F.countDistinct(name).cast("long").alias("n_distinct"),
                mn.alias("min_int"),
                mx.alias("max_int"),
                smin.alias("min_str"),
                smax.alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "dq_partition_fingerprint_drill",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
           CAST(CAST(SUM(CAST(fp AS DECIMAL(38,0))) % {_FP_MOD} AS BIGINT)
                AS BIGINT) AS sum_fp_mod
    FROM (
      SELECT ts, {_fp_nibbles_sql(
          "sha256(concat(event_id, '|', user_id, '|', event_type, '|', "
          "CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT), '|', "
          "date_diff('microsecond', TIMESTAMP '1970-01-01', ts), '|', props))"
      )} AS fp
      FROM events
    ) GROUP BY 1
    """,
)
def dq_partition_fingerprint_drill(spark, sf_dir):
    """Partition-level fingerprint drill-down — when
    `dq_table_fingerprint`'s whole-table lanes diverge after a copy, this
    is the second query you run: the same three-lane fingerprint
    (count, XOR fold, mod-2⁶⁰ additive fold) PER DAY PARTITION of the
    events stream, so the diff localizes to the partitions that actually
    changed instead of re-scanning the world. Canonical row includes the
    timestamp at microsecond precision and the raw props string; doubles
    go through DECIMAL·10⁴ as everywhere. Scale shape: one narrow scan,
    hash-grouped by the partition key the data is already laid out on
    (partition-pruned when you drill a suspect range); folds are
    commutative so the day rows ARE the mergeable summaries — diffing
    two stores is a |days|-row anti-join."""
    ev = load_events(spark, sf_dir)
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    row = F.concat_ws(
        "|",
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        (F.col("value").cast("decimal(18,4)") * 10000).cast("long"),
        micros,
        F.col("props"),
    )
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            _fp_nibbles(F.sha2(row, 256)).alias("fp"),
        )
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(fp)").cast("long").alias("xor_fp"),
            (F.sum(F.col("fp").cast("decimal(38,0)")) % F.lit(_FP_MOD))
            .cast("long")
            .alias("sum_fp_mod"),
        )
    )


@query(
    "dq_freshness_lag",
    """
    WITH fmx AS (SELECT max(ts) AS gmax FROM events),
    ftyp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             max(ts) AS tmax
      FROM events GROUP BY 1
    )
    SELECT event_type, n_rows,
           strftime(tmax, '%Y-%m-%d %H:%M:%S.%f') AS last_seen,
           CAST(date_diff('microseconds', tmax, gmax) AS BIGINT) AS lag_us,
           CAST(CASE WHEN date_diff('microseconds', tmax, gmax)
                          > 86400000000 THEN 1 ELSE 0 END AS INTEGER)
             AS is_stale
    FROM ftyp, fmx
    """,
)
def dq_freshness_lag(spark, sf_dir):
    """Per-source freshness monitoring — the data-quality check that
    catches a SILENT upstream stall (a dead producer fails no row-level
    rule, it just stops producing): per event type, last-seen timestamp
    and its lag behind the stream's global high-water mark, flagged
    stale past a 24 h SLA. Using the in-data global max as the reference
    clock (not wall clock) keeps the op deterministic and replayable —
    the production form swaps the reference for the ingestion watermark.
    All-integer microsecond arithmetic (`timestampdiff` ↔ `date_diff`,
    the `events_iat_stats` idiom), timestamps emitted as strings per the
    house normalization discipline. Scale shape: one partial-agg pass to
    |types| rows, the 1-row global max broadcast-joined on — the
    smallest possible DQ query, and the one that pages you first."""
    ev = load_events(spark, sf_dir)
    gmax = ev.agg(F.max("ts").alias("gmax"))
    typ = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("ts").alias("tmax"),
    )
    return typ.crossJoin(F.broadcast(gmax)).select(
        "event_type",
        "n_rows",
        ts_str("tmax").alias("last_seen"),
        F.expr("timestampdiff(MICROSECOND, tmax, gmax)")
        .cast("long")
        .alias("lag_us"),
        F.expr(
            "CAST(CASE WHEN timestampdiff(MICROSECOND, tmax, gmax)"
            " > 86400000000 THEN 1 ELSE 0 END AS INT)"
        ).alias("is_stale"),
    )


_ATTR_MIN_TOKENS = 20  # rule 1: hard length floor (corpus_clean_pipeline's)
_ATTR_TTR_PCT = 35  # rule 2: type-token ratio floor, percent
_ATTR_STOP_DECI = 1  # rule 3: stopword share ceiling, tenths (10%)


@query(
    "corpus_filter_attrition_report",
    f"""
    WITH att AS (
      SELECT CASE
               WHEN n < {_ATTR_MIN_TOKENS} THEN '1_too_short'
               WHEN v * 100 < {_ATTR_TTR_PCT} * n THEN '2_low_diversity'
               WHEN s * 10 > {_ATTR_STOP_DECI} * n THEN '3_stopword_heavy'
               ELSE '4_survived'
             END AS rule,
             n
      FROM (
        SELECT len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS v,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the', 'and', 'of'], t))) AS s
        FROM documents
      )
    ),
    tot AS (SELECT count(*) AS t FROM att)
    SELECT rule,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(count(*) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS share_ppm
    FROM att GROUP BY rule
    """,
)
def corpus_filter_attrition_report(spark, sf_dir):
    """Per-rule FIRST-KILL attrition attribution for an ordered quality
    ladder (Gopher/C4-style rule stack): every doc is charged to the
    FIRST rule that rejects it — length floor, then type-token-ratio
    floor (repetition/boilerplate), then stopword-share ceiling — so the
    report answers "which rule costs us what" without double-counting
    docs that several rules would kill (the sibling
    `corpus_dedup_savings_report` does the same for the dedup stages).
    All three predicates are integer cross-multiplications (no ratio
    doubles), so attribution is bit-deterministic. Scale shape: ONE
    narrow scan computes the three counters per doc, the CASE ladder is
    a map, and the only exchange is the 4-row rule census plus a 1-row
    total broadcast for the ppm share — no window, no join at data
    grain."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.array(F.lit("the"), F.lit("and"), F.lit("of"))
    att = docs.select(
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("v"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).alias("s"),
    ).select(
        F.when(F.col("n") < _ATTR_MIN_TOKENS, "1_too_short")
        .when(F.col("v") * 100 < _ATTR_TTR_PCT * F.col("n"), "2_low_diversity")
        .when(F.col("s") * 10 > _ATTR_STOP_DECI * F.col("n"), "3_stopword_heavy")
        .otherwise("4_survived")
        .alias("rule"),
        "n",
    )
    tot = att.agg(F.count("*").alias("t"))
    return (
        att.groupBy("rule")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .join(F.broadcast(tot))
        .select(
            "rule",
            "n_docs",
            "n_tokens",
            F.expr("CAST(n_docs * 1000000 DIV t AS BIGINT)").alias("share_ppm"),
        )
    )


_DSIR_TARGET_SRC = "src0"  # the "target domain" sample the selector aims at
_DSIR_BUCKETS = 256  # hashed-feature space: first 2 hex chars of sha256(token)

# shared oracle CTE chain: per-doc DSIR log importance weight + source
# (wsrc is the hand-off both DSIR oracles read from)
_DSIR_WEIGHTS_SQL = f"""
    bk AS (
      SELECT doc_id, source, substr(sha256(t), 1, 2) AS b
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
            FROM documents)
    ),
    raw AS (SELECT b, count(*) AS nr FROM bk GROUP BY b),
    tgt AS (SELECT b, count(*) AS nt FROM bk
            WHERE source = '{_DSIR_TARGET_SRC}' GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bk) AS tr,
                   (SELECT count(*) FROM bk
                    WHERE source = '{_DSIR_TARGET_SRC}') AS tt),
    lr AS (
      SELECT raw.b,
             ln((coalesce(nt, 0) + 1) / (tt + {_DSIR_BUCKETS}.0))
               - ln((nr + 1) / (tr + {_DSIR_BUCKETS}.0)) AS lr
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot
    ),
    db AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY doc_id, b),
    w AS (
      SELECT doc_id, round(sum(c * lr), 6) AS dsir_logweight
      FROM db JOIN lr USING (b) GROUP BY doc_id
    ),
    wsrc AS (
      SELECT w.doc_id, d.source, w.dsir_logweight
      FROM w JOIN documents d ON w.doc_id = d.doc_id
    )"""


def _dsir_weights(spark, sf_dir, target: str):
    """Per-document DSIR log importance weight (doc_id, source,
    dsir_logweight) — the shared body of the two DSIR keys; see
    :func:`corpus_dsir_importance_topk` for the estimator and its scale
    shape. ``target == "*"`` widens the target to the whole corpus (the
    law-test identity point)."""
    is_target = F.lit(True) if target == "*" else F.col("source") == target
    docs = load(spark, sf_dir, "documents")
    bk = docs.select(
        "doc_id",
        "source",
        F.explode(tokens("text")).alias("t"),
    ).select(
        "doc_id", "source", F.substring(F.sha2(F.col("t"), 256), 1, 2).alias("b")
    )
    # ONE token-grain census pass: nr == the raw per-bucket count, nt ==
    # the target per-bucket count (count_if yields the 0 the split form's
    # raw LEFT JOIN tgt + coalesce(nt, 0) produced), and the corpus
    # totals derive from per's exact integer sums — order-insensitive,
    # so tr/tt are the same BIGINTs the direct count/count_if read. The
    # r15-opt A/B measured the split three-aggregate form (raw census +
    # filtered target census + global totals, each re-tokenizing the
    # corpus) at 4 token-grain passes per weights instantiation vs 2
    # here, outputs row-identical at all three SFs; the law test pins
    # per/tot ≡ the split form at both graded fixtures.
    per = bk.groupBy("b").agg(
        F.count("*").alias("nr"), F.count_if(is_target).alias("nt")
    )
    tot = per.agg(F.sum("nr").alias("tr"), F.sum("nt").alias("tt"))
    nb = F.lit(float(_DSIR_BUCKETS))
    lr = per.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("nt") + 1) / (F.col("tt") + nb))
            - F.log((F.col("nr") + 1) / (F.col("tr") + nb))
        ).alias("lr"),
    )
    db = bk.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    w = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("dsir_logweight"))
    )
    return w.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source", "dsir_logweight"
    )


@query(
    "corpus_dsir_importance_topk",
    f"""
    WITH {_DSIR_WEIGHTS_SQL}
    SELECT doc_id, source, dsir_logweight FROM wsrc
    ORDER BY dsir_logweight DESC, doc_id LIMIT 100
    """,
)
def corpus_dsir_importance_topk(spark, sf_dir, target: str | None = None):
    """DSIR-style data selection via importance resampling [P: Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023]: score every raw-corpus document by the log importance
    ratio between a TARGET-domain unigram distribution (here the
    ``{src}`` source, standing in for a curated high-quality sample) and
    the RAW-corpus distribution, both estimated over a hashed feature
    space — tokens bucketed to {nb} cells by the first 2 hex chars of
    sha256 (the paper's hashed n-gram trick, which bounds the model size
    regardless of vocabulary) with add-one smoothing. Documents whose
    token mix looks most like the target float to the top; sampling
    proportional to these weights is the paper's selection step, and the
    ranked top-k here is its deterministic, oracle-checkable core.

    Scale shape (100 TB): the only corpus-sized shuffle is the
    (doc_id, bucket) count — ids + 2-char buckets, never text. Both
    distribution estimates aggregate to <= {nb} rows and broadcast back,
    so the per-doc scoring join is map-side; the final global top-k is a
    TakeOrdered, not a full sort. Everything is one linear pass over the
    token stream — the same budget as tokenizing the corpus at all —
    and the hashed space keeps the importance model O(1) memory no
    matter how large the vocabulary grows.

    ``target`` widens/narrows the target-domain predicate for the law
    tests (default {src!r}; ``"*"`` means target = the whole raw corpus,
    under which P_target ≡ P_raw and every log-weight is EXACTLY 0.0 —
    the self-consistency law tests/test_round13_ops.py pins)."""
    if target is None:
        target = _DSIR_TARGET_SRC
    return (
        _dsir_weights(spark, sf_dir, target)
        .orderBy(F.desc("dsir_logweight"), "doc_id")
        .limit(100)
        .select("doc_id", "source", "dsir_logweight")
    )


corpus_dsir_importance_topk.__doc__ = corpus_dsir_importance_topk.__doc__.format(
    src=_DSIR_TARGET_SRC, nb=_DSIR_BUCKETS
)


@query(
    "corpus_dsir_resample_mix_shift",
    f"""
    WITH {_DSIR_WEIGHTS_SQL},
    wint AS (
      SELECT doc_id, source,
             CAST(round(dsir_logweight * 1000000) AS BIGINT) AS wi
      FROM wsrc
    ),
    thr AS (SELECT count(*) AS na, sum(wi) AS s FROM wint),
    sel AS (SELECT source FROM wint, thr
            WHERE CAST(wi AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))
                  > CAST(s AS DECIMAL(38,0))),
    base AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    selc AS (SELECT source, count(*) AS n_selected FROM sel GROUP BY source),
    n_sel AS (SELECT coalesce(sum(n_selected), 0) AS ns FROM selc),
    n_all AS (SELECT sum(n_docs) AS na FROM base)
    SELECT b.source,
           b.n_docs,
           CAST(coalesce(sc.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(b.n_docs * 1000000 // na AS BIGINT) AS share_before_ppm,
           CAST(CASE WHEN ns = 0 THEN 0
                ELSE coalesce(sc.n_selected, 0) * 1000000 // ns END AS BIGINT)
             AS share_after_ppm,
           CAST(coalesce(sc.n_selected, 0) * 1000000 // b.n_docs AS BIGINT)
             AS keep_rate_ppm
    FROM base b LEFT JOIN selc sc ON b.source = sc.source, n_all, n_sel
    ORDER BY b.source
    """,
)
def corpus_dsir_resample_mix_shift(spark, sf_dir):
    """The DSIR selection ACTION and its audit in one DAG: keep every
    document whose log importance weight is STRICTLY ABOVE the corpus
    mean (the centered acceptance rule — the raw-corpus expectation of
    the log ratio is -KL(raw||target) < 0, so a fixed zero cut
    degenerates to near-empty on any corpus whose sources are close;
    above-mean selects the target-leaning half at every scale), then
    report the per-source mix shift: corpus share before vs among the
    survivors, plus each source's keep rate. This is the table a corpus
    team reads after importance selection — did the selector tilt the
    mix toward the target domain, and at what attrition per source
    ([P: Xie et al., NeurIPS 2023] §5 reports exactly this
    selected-composition audit).

    The acceptance boundary is computed in EXACT integer arithmetic:
    weights are round-6 canonical, so `wi = round(w * 1e6)` is a lossless
    micro-unit integer and the above-mean test `wi * n > sum(wi)` is an
    exact comparison — order-insensitive and bit-identical in Spark
    and DuckDB, where a floating mean would make the boundary depend on
    summation order. The product is evaluated in DECIMAL(38,0) so it
    cannot overflow at any reachable scale (both factors are BIGINT-
    bounded, so <= 38 digits by construction — a raw BIGINT product
    would wrap silently at ~1e9-unit weights x ~1e9 docs; ADVICE r13).
    All output columns are integers (counts and DIV-ppm shares): zero
    float-sum sensitivity end to end.

    Scale shape (100 TB): the threshold form is deliberately chosen over
    a top-fraction cut — above-mean is a narrow map over the weights
    table against one broadcast 2-scalar aggregate (no global sort, no
    single-partition TakeOrdered of half the corpus), so the whole DAG
    inherits `corpus_dsir_importance_topk`'s linear budget: one
    (doc_id, bucket) shuffle, broadcast distribution tables, then two
    source-keyed counts whose partial aggs collapse map-side. The
    integer weights table is pinned (~16 B/row) so the threshold's
    inherent two passes never re-run the token-grain weights DAG
    (r15-opt: 44 → 4 documents scans in the audited plan)."""
    w = _dsir_weights(spark, sf_dir, _DSIR_TARGET_SRC)
    docs = load(spark, sf_dir, "documents")
    # pin the ~16 B/row integer weights table: the data-dependent
    # above-mean threshold is inherently two-pass over wi (one aggregate,
    # one filter), and Spark instantiates shared subplans per use — so
    # without the pin the WHOLE weights DAG (token-grain tokenize +
    # census) ran twice (44 parquet scans in the audited plan; 4 with the
    # pin). Materializing (source, wi) costs one narrow write of n rows;
    # re-deriving it costs a full corpus tokenize — the pin side wins at
    # every scale past the fixture and measured at-or-faster on both
    # fixture layouts.
    wint = pin(
        w.select(
            "source",
            F.round(F.col("dsir_logweight") * 1000000, 0)
            .cast("long")
            .alias("wi"),
        )
    )
    thr = wint.agg(F.count("*").alias("na"), F.sum("wi").alias("s"))
    # the above-mean test wi * na > sum(wi) in DECIMAL(38,0): both factors
    # are BIGINT-bounded (<= 9.22e18 = 19 digits), so the product needs at
    # most 38 digits and CANNOT overflow — a plain BIGINT product would
    # wrap silently under non-ANSI mode once per-doc micro-unit weights
    # (~1e9 for long documents) meet corpus-scale doc counts (~1e9+),
    # corrupting the selection boundary (ADVICE r13). DECIMAL keeps the
    # comparison exact AND portable; an integer-mean rewrite (s DIV na)
    # would not, because Spark's DIV truncates toward zero while DuckDB's
    # // floors — they disagree whenever sum(wi) < 0, which is the
    # EXPECTED sign here (E_raw[log ratio] = -KL < 0).
    sel = (
        wint.crossJoin(F.broadcast(thr))
        .filter(
            F.col("wi").cast("decimal(19,0)") * F.col("na").cast("decimal(19,0)")
            > F.col("s").cast("decimal(38,0)")
        )
        .select("source")
    )
    base = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    selc = sel.groupBy("source").agg(F.count("*").alias("n_selected"))
    # ns from the <=|sources|-row report, not a second aggregation of the
    # corpus-scale sel subtree: Spark instantiates shared subplans per
    # use, so re-aggregating sel would recompute the whole weights DAG
    # (the r13 plan audit read 9 benign 1-row merges on this query; this
    # derivation removes the corpus-scale duplicates for free)
    n_sel = selc.agg(
        F.coalesce(F.sum("n_selected"), F.lit(0)).cast("long").alias("ns")
    )
    # likewise na from the tiny per-source table: the threshold's
    # two-pass cost runs against the pinned integer weights table, so
    # the weights DAG itself is instantiated exactly once — never again
    n_all = base.agg(F.sum("n_docs").cast("long").alias("na"))
    return (
        base.join(selc, "source", "left")
        .crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(n_sel))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.expr("CAST(n_docs * 1000000 DIV na AS BIGINT)").alias(
                "share_before_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN ns = 0 THEN 0 "
                "ELSE coalesce(n_selected, 0) * 1000000 DIV ns END AS BIGINT)"
            ).alias("share_after_ppm"),
            F.expr(
                "CAST(coalesce(n_selected, 0) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("keep_rate_ppm"),
        )
        .orderBy("source")
    )
