"""EXT group — text analysis over the ``documents`` corpus (SURVEY §2.3
X1–X3 plus the training-data-pipeline text operators: language ID, quality
scoring, token counting, document fingerprinting).

Everything is built from JVM-side primitives (split/explode/regexp/sha2) —
no Python UDFs — so each operator is EXACT-oracle-checkable and stays
inside whole-stage codegen. Scale shape: tokenize-then-aggregate is the
classic map-side-combine pattern; shuffle volume ∝ distinct terms, not
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.textfns import LANG_MARKERS, fingerprint, marker_hits, tokens
from ..materialize import pin
from ..sources import load
from .base import make_registry

QUERIES, ORACLES, query = make_registry()


@query(
    "text_tokenize_topterms",
    """
    SELECT term, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY cnt DESC, term
    LIMIT 20
    """,
)
def text_tokenize_topterms(spark, sf_dir):
    """X1 — top-20 corpus terms (count desc, term asc tie-break)."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(20)
    )


@query(
    "text_lang_stats",
    """
    SELECT lang, count(*) AS n_docs,
           round(CAST(SUM(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_lang_stats(spark, sf_dir):
    """X2 — per-language doc count + average length (exact int sum then one
    double division keeps the value bit-deterministic cross-engine)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 2).alias(
                "avg_chars"
            ),
        )
    )


@query(
    "text_term_per_lang",
    """
    SELECT lang, term, cnt FROM (
      SELECT lang, term, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn
      FROM (
        SELECT lang, term, count(*) AS cnt
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY lang, term
      )
    ) WHERE rn = 1
    """,
)
def text_term_per_lang(spark, sf_dir):
    """X3 — top term per language (tokenize + aggregate + ranking window)."""
    counts = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "term")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "term", "cnt")
    )


def _langid_oracle() -> str:
    # duckdb list literal: ['the','and','of']
    def lst(markers):
        inner = ", ".join(f"'{m}'" for m in markers)
        return f"[{inner}]"

    h = {
        lang: f"len(list_filter(string_split(text,' '), t -> list_contains({lst(m)}, t)))"
        for lang, m in LANG_MARKERS.items()
    }
    return f"""
    SELECT doc_id, lang,
      CASE
        WHEN {h['en']} > 0 AND {h['en']} >= greatest({h['fr']}, {h['es']}, {h['de']}) THEN 'en'
        WHEN {h['fr']} > 0 AND {h['fr']} >= greatest({h['es']}, {h['de']}) THEN 'fr'
        WHEN {h['es']} > 0 AND {h['es']} >= {h['de']} THEN 'es'
        WHEN {h['de']} > 0 THEN 'de'
        ELSE 'und'
      END AS lang_pred
    FROM documents
    """


@query("text_langid", _langid_oracle())
def text_langid(spark, sf_dir):
    """Heuristic n-gram/stopword language ID: count marker-stopword hits per
    candidate language, pick the max with a fixed priority order (en > fr >
    es > de > und). Pure column arithmetic — at scale this is a single
    narrow map stage. NB the fixture corpus shares one vocabulary across
    all lang labels, so tests pin the heuristic against a Python reference
    rather than measuring label accuracy (zh maps to 'und' by design)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    h = {lang: marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    pred = (
        F.when(
            (h["en"] > 0)
            & (h["en"] >= F.greatest(h["fr"], h["es"], h["de"])),
            "en",
        )
        .when((h["fr"] > 0) & (h["fr"] >= F.greatest(h["es"], h["de"])), "fr")
        .when((h["es"] > 0) & (h["es"] >= h["de"]), "es")
        .when(h["de"] > 0, "de")
        .otherwise("und")
    )
    return docs.select("doc_id", "lang", pred.alias("lang_pred"))


_EN_STOP = LANG_MARKERS["en"]


@query(
    "text_quality_score",
    f"""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS INTEGER) AS n_punct,
      round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6)
        AS avg_token_len,
      round(CAST(len(list_filter(string_split(text, ' '),
                     t -> list_contains({str(_EN_STOP).replace('"', "'")}, t)))
                 AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality-scoring features for corpus filtering: token count,
    punctuation count, mean token length, stopword ratio. All ratios are
    int/int divisions of identical integers -> bit-identical doubles."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", "[.,!?;:]", "")
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.cast("int").alias("n_punct"),
        F.round(F.length("text").cast("double") / n_tokens, 6).alias(
            "avg_token_len"
        ),
        F.round(
            marker_hits(toks, _EN_STOP).cast("double") / n_tokens, 6
        ).alias("stopword_ratio"),
    )


@query(
    "text_token_count",
    """
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_words,
      CAST(length(text) AS INTEGER) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting both ways a training pipeline needs: cheap whitespace
    count and a BPE-ish word-regex count (``[A-Za-z0-9]+`` runs)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0)).alias(
            "n_words"
        ),
        F.length("text").alias("n_chars_measured"),
    )


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                                  ' ')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: sha256 of the sorted distinct token set —
    word-order- and duplication-insensitive content identity, the cheap
    first stage of a dedup cascade (exact-hash -> fingerprint -> minhash)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


@query(
    "text_tfidf_top3",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top3(spark, sf_dir):
    """TF-IDF: top-3 most characteristic terms per document. Three
    aggregations (tf per doc-term, df per term, corpus N) composed with a
    broadcast of the term-df table and a ranking window — the standard
    shape for corpus statistics at scale (df table is vocabulary-sized,
    always broadcastable; tf shuffles on doc_id which is the natural
    partition key)."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df from tf, exactly as the oracle's CTE chain already states it:
    # tf rows are unique per (doc_id, term), so df == count(*) per term
    # — no second tokenize pass and no distinct machinery; tf's one
    # aggregation exchange is shared by both consumers.
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus size as a broadcast 1-row aggregate, not a driver .count():
    # the whole DAG stays lazy and the scan isn't executed twice.
    n_row = docs.agg(F.count("*").cast("double").alias("corpus_n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("corpus_n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "text_vocab_build",
    """
    SELECT token, cnt, CAST(rk AS INTEGER) AS token_id FROM (
      SELECT token, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, token) AS rk
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ) WHERE rk <= 200
    """,
)
def text_vocab_build(spark, sf_dir):
    """Vocabulary construction — the tokenizer-training primitive: count
    every token, rank by (frequency desc, token asc), assign contiguous
    ids to the top 200. Two-stage count (map-side combine, shuffle ∝
    vocabulary not corpus), then top-200 via TakeOrderedAndProject (local
    per-partition top-k, driver merge of K·p candidates) + a K-row
    distributed rerank (`_topk_ranked`) — the |vocab|-row aggregate never
    funnels through a single ranking-window task (VERDICT r7 item 4):
    vocab is small at fixture scale but unbounded in principle, and the
    TakeOrdered form costs nothing to be safe."""
    from .scale import _topk_ranked

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    return _topk_ranked(counts, 200, F.desc("cnt"), F.col("token")).select(
        "token", "cnt", F.col("rk").cast("int").alias("token_id")
    )


@query(
    "text_bigram_colloc",
    """
    SELECT bigram, cnt, CAST(rk AS INTEGER) AS rk FROM (
      SELECT bigram, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, bigram) AS rk
      FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
      )
      GROUP BY bigram
    ) WHERE rk <= 30
    """,
)
def text_bigram_colloc(spark, sf_dir):
    """Bigram collocation counts — the n-gram LM / tokenizer-merge-pair
    statistic: slide a 2-token window over every document (array
    ``transform`` over an index ``sequence`` — JVM codegen, no explode
    of intermediate pairs until the count), count global bigrams, rank
    the top 30 with a deterministic (count desc, bigram asc) tie-break.
    Same scale shape as vocab build: shuffle ∝ distinct bigrams with
    map-side partial counts, TakeOrderedAndProject + K-row rerank for
    the top-30 (no global ranking window); documents never leave their
    partitions."""
    from .scale import _topk_ranked

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1]))"
            )
        ).alias("bigram")
    )
    counts = bigrams.groupBy("bigram").agg(F.count("*").alias("cnt"))
    return _topk_ranked(counts, 30, F.desc("cnt"), F.col("bigram")).select(
        "bigram", "cnt", F.col("rk").cast("int").alias("rk")
    )


@query(
    "text_unigram_logprob",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term, count(*) AS vc FROM
        (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ),
    tot AS (SELECT count(*) AS n FROM
            (SELECT unnest(string_split(text, ' ')) FROM documents)),
    scored AS (
      SELECT tf.doc_id,
             SUM(tf.c) AS n_tokens,
             SUM(tf.c * CAST(round(ln(CAST(vocab.vc AS DOUBLE) / tot.n)
                                   * 1000000000) AS BIGINT)) AS s
      FROM tf JOIN vocab USING (term), tot
      GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(-(CAST(s AS DOUBLE) / 1000000000) / n_tokens, 6)
             AS avg_neg_logprob
    FROM scored
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram log-probability quality score — the perplexity-proxy filter
    corpus pipelines run when a real LM is unavailable or too expensive:
    score(doc) = -(1/n) Σ_tokens ln p(token), with p from the corpus's own
    unigram distribution. Gibberish and boilerplate-stuffed docs sit in
    the tails; the score feeds a cut like ``corpus_clean_pipeline``'s
    quality floor.

    Determinism pattern: per-token ln p values are irrational doubles and
    a groupBy SUM of doubles is accumulation-order-dependent — so each
    ln p is quantized to an int64 at 1e9 scale FIRST and the per-doc sum
    runs in integers (commutes; same trick as graph_pagerank_int and the
    fixed-point centroids). One double division + 6dp round at the end.
    Shape: two token aggregations (tf per doc-term, corpus vocab) + a
    broadcast-sized vocab join — df table is |vocab| rows, the natural
    broadcast side at any corpus scale."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    vocab = terms.groupBy("term").agg(F.count("*").alias("vc"))
    tot = terms.agg(F.count("*").cast("double").alias("n"))
    lp_int = F.round(
        F.log(F.col("vc") / F.col("n")) * 1_000_000_000
    ).cast("long")
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * lp_int).alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(
            -(F.col("s").cast("double") / 1_000_000_000) / F.col("n_tokens"), 6
        ).alias("avg_neg_logprob"),
    )


# ---- iterative BPE merge training ----------------------------------------
#
# Byte-pair-encoding training is THE tokenizer-training loop: count every
# adjacent symbol pair across the word-frequency table, merge the most
# frequent pair everywhere (left-to-right, non-overlapping), repeat. The
# whole loop runs on the word-frequency table, never the corpus — after
# the initial token count, every round's working set is |vocab| rows
# (the classic Sennrich trick, and exactly the right 100 TB shape: the
# corpus is touched once; training shuffles are vocabulary-sized).
#
# Cross-engine exactness: both engines run the IDENTICAL declarative
# algorithm per round — pair counts are integer sums (commutative), the
# best pair breaks ties on (count desc, s1, s2), and the non-overlapping
# merge is a windows-over-positions computation (candidate runs =
# gaps-and-islands; realize every other candidate within a run) rather
# than an engine-specific fold. The oracle unrolls all rounds as chained
# CTEs, like graph_pagerank_int / sim_ann_kmeans_ivf_topk.
_BPE_MERGES = 3


def _bpe_words0(spark, sf_dir):
    """Word-frequency table with each word exploded into its character
    symbols (substring loop — identical semantics to the oracle's
    ``word[i]`` indexing; empty tokens dropped in both engines)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
    )


def _bpe_pair_counts(words):
    """Weighted adjacent-pair counts over the symbol arrays (overlapping
    occurrences counted, as in reference BPE): shuffle ∝ distinct pairs."""
    return (
        words.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS s1, syms[i + 1] AS s2))"
                )
            ).alias("p"),
        )
        .select("cnt", "p.s1", "p.s2")
        .groupBy("s1", "s2")
        .agg(F.sum("cnt").alias("pc"))
    )


def _bpe_apply_merge(words, best):
    """Merge the broadcast best pair in every word, left-to-right
    non-overlapping: mark candidate positions, group consecutive
    candidates into islands (i - running-candidate-count), realize every
    odd-indexed candidate within its island, drop the consumed follower
    position, and re-assemble the arrays. All windows partition by word —
    at scale that is |vocab| tiny partitions, never a corpus shuffle."""
    w_pos = Window.partitionBy("word").orderBy("i")
    ex = (
        words.select("word", "cnt", F.posexplode("syms").alias("i", "s"))
        .withColumn("nxt", F.lead("s").over(w_pos))
        .join(F.broadcast(best))
        .withColumn(
            "cand",
            F.coalesce(
                (F.col("s") == F.col("s1")) & (F.col("nxt") == F.col("s2")),
                F.lit(False),
            ),
        )
        .withColumn("isl", F.col("i") - F.sum(F.col("cand").cast("int")).over(w_pos))
    )
    w_isl = Window.partitionBy("word", "isl", "cand").orderBy("i")
    ex = ex.withColumn(
        "realized", F.col("cand") & (F.row_number().over(w_isl) % 2 == 1)
    ).withColumn(
        "prev_real", F.coalesce(F.lag("realized").over(w_pos), F.lit(False))
    )
    return (
        ex.filter(~F.col("prev_real"))
        .select(
            "word",
            "cnt",
            "i",
            F.when(F.col("realized"), F.concat("s", "nxt")).otherwise(
                F.col("s")
            ).alias("sym"),
        )
        .groupBy("word", "cnt")
        .agg(F.array_sort(F.collect_list(F.struct("i", "sym"))).alias("ps"))
        .select(
            "word",
            "cnt",
            F.transform("ps", lambda p: p.getField("sym")).alias("syms"),
        )
    )


def _bpe_round_sql(prev: str, r: int) -> str:
    """One unrolled BPE round: pair counts under w{prev}, the best pair,
    and the merged word table w{r}."""
    return f"""pc{r} AS (
      SELECT p.s1 AS s1, p.s2 AS s2, SUM(cnt) AS pc FROM (
        SELECT cnt, unnest(list_transform(range(1, len(syms)),
                     i -> {{'s1': syms[i], 's2': syms[i + 1]}})) AS p
        FROM {prev} WHERE len(syms) >= 2
      ) GROUP BY p.s1, p.s2
    ),
    best{r} AS (
      SELECT s1, s2, pc FROM pc{r} ORDER BY pc DESC, s1, s2 LIMIT 1
    ),
    ex{r} AS (
      SELECT word, cnt, unnest(range(1, len(syms) + 1)) AS i, syms
      FROM {prev}
    ),
    ex2{r} AS (
      SELECT e.word, e.cnt, e.i, e.syms[e.i] AS s, e.syms[e.i + 1] AS nxt,
             COALESCE(e.syms[e.i] = b.s1 AND e.syms[e.i + 1] = b.s2, FALSE)
               AS cand
      FROM ex{r} e, best{r} b
    ),
    ex3{r} AS (
      SELECT *, i - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
                    OVER (PARTITION BY word ORDER BY i) AS isl
      FROM ex2{r}
    ),
    ex4{r} AS (
      SELECT *, cand AND (row_number() OVER (PARTITION BY word, isl, cand
                                             ORDER BY i) % 2 = 1) AS realized
      FROM ex3{r}
    ),
    ex5{r} AS (
      SELECT *, COALESCE(lag(realized) OVER (PARTITION BY word ORDER BY i),
                         FALSE) AS prev_real
      FROM ex4{r}
    ),
    w{r} AS (
      SELECT word, cnt,
             list(CASE WHEN realized THEN s || nxt ELSE s END ORDER BY i)
               AS syms
      FROM ex5{r} WHERE NOT prev_real GROUP BY word, cnt
    )"""


@query(
    "text_bpe_merges",
    f"""
    WITH w0 AS (
      SELECT word, count(*) AS cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 1
      GROUP BY word
    ),
    {_bpe_round_sql("w0", 1)},
    {_bpe_round_sql("w1", 2)},
    {_bpe_round_sql("w2", 3)}
    SELECT * FROM (
      SELECT CAST(1 AS INTEGER) AS merge_rank, s1 AS left_sym,
             s2 AS right_sym, CAST(pc AS BIGINT) AS pair_cnt FROM best1
      UNION ALL
      SELECT CAST(2 AS INTEGER), s1, s2, CAST(pc AS BIGINT) FROM best2
      UNION ALL
      SELECT CAST(3 AS INTEGER), s1, s2, CAST(pc AS BIGINT) FROM best3
    )
    """,
)
def text_bpe_merges(spark, sf_dir):
    """Iterative BPE merge training (the tokenizer-training capstone on
    top of text_vocab_build / text_bigram_colloc): {_BPE_MERGES} rounds of
    count-adjacent-pairs -> merge-the-argmax over the word-frequency
    table; the output is the learned merge table (rank, pair, count) —
    the artifact a BPE tokenizer ships. See the module block comment for
    the scale shape and the cross-engine exactness argument; the oracle
    unrolls every round as chained CTEs, so the full training loop is
    value-checked, not just the final counts."""
    words = pin(_bpe_words0(spark, sf_dir))
    merges = []
    for r in range(1, _BPE_MERGES + 1):
        best = pin(
            _bpe_pair_counts(words)
            .orderBy(F.desc("pc"), "s1", "s2")
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(r).cast("int").alias("merge_rank"),
                F.col("s1").alias("left_sym"),
                F.col("s2").alias("right_sym"),
                F.col("pc").cast("long").alias("pair_cnt"),
            )
        )
        if r < _BPE_MERGES:
            words = pin(_bpe_apply_merge(words, best.select("s1", "s2")))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@query(
    "text_repetition_stats",
    """
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_repeat,
           round(1 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_ratio
    FROM (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3
      ) GROUP BY doc_id, g
    ) GROUP BY doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Intra-document repetition census — the Gopher/C4-style quality
    signal: per document, total vs distinct sliding 3-gram counts, the
    hottest trigram's repeat count, and the duplicate-trigram ratio
    (1 - distinct/total). Heavily templated or looping documents (boiler-
    plate, crawler traps, degenerate generations) stand out at high
    dup_ratio and get dropped before training. Shape: one in-partition
    trigram explode (transform over an index sequence — JVM codegen),
    then two partial-aggregating groupBys keyed by (doc, gram) then doc —
    shuffle ∝ distinct per-doc trigrams, never the corpus cross-product.
    The ratio is one double division + round, identical in both engines;
    everything else is integer."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("max_repeat"),
        F.round(
            F.lit(1) - F.count("*").cast("double") / F.sum("c"), 6
        ).alias("dup_ratio"),
    )


def _bpe_sizes(spark, sf_dir):
    """Train the BPE merges and return the word -> token-count dimension
    (shared by the encode op and the fertility report)."""
    words = pin(_bpe_words0(spark, sf_dir))
    for _ in range(_BPE_MERGES):
        best = pin(
            _bpe_pair_counts(words)
            .orderBy(F.desc("pc"), "s1", "s2")
            .limit(1)
            .select("s1", "s2")
        )
        words = pin(_bpe_apply_merge(words, best))
    return words.select("word", F.size("syms").alias("ntok"))


@query(
    "text_bpe_encode",
    f"""
    WITH w0 AS (
      SELECT word, count(*) AS cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 1
      GROUP BY word
    ),
    {_bpe_round_sql("w0", 1)},
    {_bpe_round_sql("w1", 2)},
    {_bpe_round_sql("w2", 3)},
    sizes AS (SELECT word, len(syms) AS ntok FROM w3),
    doc_words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT doc_id,
           CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(word)) AS BIGINT) AS n_chars,
           round(CAST(SUM(length(word)) AS DOUBLE) / SUM(ntok), 6)
             AS chars_per_token
    FROM doc_words JOIN sizes USING (word)
    WHERE length(word) >= 1
    GROUP BY doc_id
    """,
)
def text_bpe_encode(spark, sf_dir):
    """Apply the learned BPE merge table (text_bpe_merges) to encode the
    corpus: run all {_BPE_MERGES} merges over the word-frequency table
    (training reuse — encode cost is ∝ |vocab|, not corpus), broadcast
    the word -> token-count dimension back onto the documents, and report
    per-document BPE token counts and chars-per-token compression. This
    is the train->apply round trip a tokenizer pipeline runs; token
    counts are what batch packing and cost estimates key on. The oracle
    replays the identical unrolled training CTEs and joins the same
    dimension — integer counts plus one double division."""
    sizes = _bpe_sizes(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id", F.explode(tokens("text")).alias("word")
    ).filter(F.length("word") >= 1)
    return (
        doc_words.join(F.broadcast(sizes), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("ntok").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("ntok"), 6
            ).alias("chars_per_token"),
        )
    )


_FH_BUCKETS = 32


@query(
    "text_feature_hash",
    f"""
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT doc_id,
             ((instr('0123456789abcdef', substr(sha256(tok), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(sha256(tok), 2, 1)) - 1))
             % {_FH_BUCKETS} AS bucket
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    )
    GROUP BY doc_id, bucket
    """,
)
def text_feature_hash(spark, sf_dir):
    """Feature hashing (the HashingTF trick): each token mapped to one of
    {_FH_BUCKETS} buckets by content hash, per-document bucket counts —
    the fixed-width bag-of-words featurization that needs NO vocabulary
    pass, no broadcast dictionary, and no re-fit when new tokens appear;
    collisions are the accepted trade. The bucket function is the
    engine's portable hash idiom (first sha256 byte via hex-nibble
    arithmetic, mod buckets) so both engines bucket identically. Shape:
    narrow explode + one partial-aggregating groupBy keyed (doc, bucket)
    — shuffle ∝ nonzero feature cells, never corpus text."""
    docs = load(spark, sf_dir, "documents")
    tok = F.explode(tokens("text")).alias("tok")
    base = docs.select("doc_id", tok).filter(F.col("tok") != "")
    h = F.sha2("tok", 256)
    nib = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1  # noqa: E731
    bucket = ((nib(1) * 16 + nib(2)) % _FH_BUCKETS).cast("int")
    return (
        base.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "text_langid_confusion",
    f"""
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / SUM(count(*)) OVER (PARTITION BY lang), 6) AS frac
    FROM ({_langid_oracle()})
    GROUP BY lang, lang_pred
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang x predicted lang with
    per-label fractions — the evaluation census any classifier-in-the-
    pipeline needs (and the monitoring table a drifting corpus moves
    first). Built directly on text_langid's prediction column; one
    partial-aggregating groupBy over |langs|^2 cells plus a per-label
    normalizing window on the tiny matrix."""
    pred = QUERIES["text_langid"](spark, sf_dir)
    c = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return c.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "frac"
        ),
    )


_VG_STEPS = (50, 100, 200, 500)


@query(
    "vocab_growth_curve",
    f"""
    WITH first_seen AS (
      SELECT tok, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> '' GROUP BY tok
    )
    SELECT n_docs, CAST(count(*) AS BIGINT) AS vocab_size
    FROM first_seen,
         (SELECT unnest([{', '.join(str(n) for n in _VG_STEPS)}]) AS n_docs)
    WHERE first_doc < n_docs
    GROUP BY n_docs
    """,
)
def vocab_growth_curve(spark, sf_dir):
    """Vocabulary growth curve (Heaps'-law census): distinct tokens seen
    within the first N documents, for several N — the statistic that
    sizes tokenizer vocabularies and predicts OOV rates as a corpus
    grows. Computed WITHOUT any ordered accumulation: one aggregation
    finds each token's first-appearance doc, then a broadcast threshold
    list counts tokens with first_doc < N — shuffle ∝ vocabulary, never
    a scan per threshold. All integers."""
    docs = load(spark, sf_dir, "documents")
    first = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    steps = docs.sparkSession.createDataFrame(
        [(n,) for n in _VG_STEPS], "n_docs INT"
    )
    return (
        first.crossJoin(F.broadcast(steps))  # vocab x 4 thresholds
        .filter(F.col("first_doc") < F.col("n_docs"))
        .groupBy("n_docs")
        .agg(F.count("*").alias("vocab_size"))
    )


@query(
    "text_bigram_logprob",
    """
    WITH pairs AS (
      SELECT doc_id, p, q FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> {'p': t[i], 'q': t[i + 1]})) AS pq
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
      ), LATERAL (SELECT pq['p'] AS p, pq['q'] AS q)
    ),
    tf AS (SELECT doc_id, p, q, count(*) AS c FROM pairs GROUP BY 1, 2, 3),
    bc AS (SELECT p, q, count(*) AS bcnt FROM pairs GROUP BY 1, 2),
    lm AS (SELECT p, sum(bcnt) AS lcnt FROM bc GROUP BY 1),
    vv AS (SELECT count(DISTINCT term) AS v FROM
           (SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
    scored AS (
      SELECT tf.doc_id,
             SUM(tf.c) AS n_bigrams,
             SUM(tf.c * CAST(round(ln(CAST(bc.bcnt + 1 AS DOUBLE)
                                      / (lm.lcnt + vv.v))
                                   * 1000000000) AS BIGINT)) AS s
      FROM tf JOIN bc USING (p, q) JOIN lm USING (p), vv
      GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(-(CAST(s AS DOUBLE) / 1000000000) / n_bigrams, 6)
             AS avg_neg_logprob
    FROM scored
    """,
)
def text_bigram_logprob(spark, sf_dir):
    """Bigram LM log-probability quality score — one order up from
    ``text_unigram_logprob``, the KenLM-shaped filter signal real corpus
    pipelines use (a doc can have plausible unigrams but gibberish
    transitions; the bigram score catches it): score(doc) =
    -(1/n) Σ ln p(w_i | w_{i-1}) with add-1 smoothing,
    p = (c(prev,cur)+1) / (c(prev,·)+V), all statistics from the corpus
    itself. Same determinism pattern as the unigram op: each ln p is
    int64-quantized at 1e9 BEFORE the per-doc sum so accumulation
    commutes across any partitioning. Shapes for 100 TB: per-doc and
    corpus bigram tables shuffle on (prev, cur) — both partial-aggregate
    map-side and carry counts, not text; the conditional's denominator
    (left-context marginal, |vocab| rows) and the vocabulary size (1 row)
    ride in as broadcasts; the corpus is tokenized exactly once per
    statistic, never re-scanned per document."""
    docs = load(spark, sf_dir, "documents")
    tf, bc, lm = _bigram_counts(docs)
    vv = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .agg(F.count_distinct("term").alias("v"))
    )
    return _bigram_score(
        tf.join(bc, ["p", "q"]).join(F.broadcast(lm), "p").join(F.broadcast(vv)),
        (F.col("bcnt") + 1).cast("double") / (F.col("lcnt") + F.col("v")),
    )


def _bigram_counts(docs):
    """The bigram LM count tables over whitespace tokens: per-doc bigram
    counts tf (doc_id, p, q, c), corpus bigram counts bc (p, q, bcnt) and
    the left-context marginal lm (p, lcnt). Docs with fewer than two
    tokens contribute none."""
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS p, t[i + 1] AS q))"
            )
        ).alias("pq"),
    ).select("doc_id", "pq.p", "pq.q")
    tf = pairs.groupBy("doc_id", "p", "q").agg(F.count("*").alias("c"))
    bc = pairs.groupBy("p", "q").agg(F.count("*").alias("bcnt"))
    lm = bc.groupBy("p").agg(F.sum("bcnt").alias("lcnt"))
    return tf, bc, lm


def _bigram_score(scored, prob):
    """Per-doc (doc_id, n_bigrams, avg_neg_logprob) from the per-doc
    bigram rows (c per bigram) and each bigram's probability column:
    ln p is int64-quantized at 1e9 BEFORE the per-doc sum, so the
    accumulation commutes across any partitioning."""
    lp_int = F.round(F.log(prob) * 1_000_000_000).cast("long")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * lp_int).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -(F.col("s").cast("double") / 1_000_000_000) / F.col("n_bigrams"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


_JM_NUM = 7  # Jelinek-Mercer bigram weight λ = 7/10 (rational, not float)


@query(
    "text_interpolated_logprob",
    f"""
    WITH pairs AS (
      SELECT doc_id, p, q FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> {{'p': t[i], 'q': t[i + 1]}})) AS pq
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
      ), LATERAL (SELECT pq['p'] AS p, pq['q'] AS q)
    ),
    tf AS (SELECT doc_id, p, q, count(*) AS c FROM pairs GROUP BY 1, 2, 3),
    bc AS (SELECT p, q, count(*) AS bcnt FROM pairs GROUP BY 1, 2),
    lm AS (SELECT p, sum(bcnt) AS lcnt FROM bc GROUP BY 1),
    uc AS (SELECT term, count(*) AS ucnt FROM
           (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM
           (SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
    scored AS (
      SELECT tf.doc_id,
             SUM(tf.c) AS n_bigrams,
             SUM(tf.c * CAST(round(ln(
                   CAST({_JM_NUM} * bc.bcnt * nn.n
                        + {10 - _JM_NUM} * uc.ucnt * lm.lcnt AS DOUBLE)
                   / CAST(10 * lm.lcnt * nn.n AS DOUBLE))
                 * 1000000000) AS BIGINT)) AS s
      FROM tf JOIN bc USING (p, q) JOIN lm USING (p)
           JOIN uc ON uc.term = tf.q, nn
      GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(-(CAST(s AS DOUBLE) / 1000000000) / n_bigrams, 6)
             AS avg_neg_logprob
    FROM scored
    """,
)
def text_interpolated_logprob(spark, sf_dir):
    """Jelinek-Mercer INTERPOLATED bigram⊕unigram LM score — the form
    real quality filters actually deploy (CCNet/KenLM smooth the sparse
    bigram estimate toward the dense unigram, instead of the add-1 fudge
    `text_bigram_logprob` uses): score(doc) = -(1/n) Σ ln(λ·p(w|prev) +
    (1-λ)·p(w)). Determinism is the interesting part: the mixture of two
    probability RATIOS is kept rational — λ = {_JM_NUM}/10 exactly, so
    the interpolated probability is the integer fraction
    ({_JM_NUM}·c(prev,w)·N + {10 - _JM_NUM}·c(w)·c(prev,·)) /
    (10·c(prev,·)·N) — one exact int64 numerator and denominator (all
    counts ≪ 2^63/eachother at any SF that fits a cluster), ONE double
    division, one ln, int64-quantized at 1e9 before the per-doc sum so
    accumulation commutes across partitionings. No smoothing epsilon is
    needed: scoring the training corpus itself, every bigram/unigram has
    count ≥ 1. Scale: identical shuffle shapes to the bigram op
    ((prev,cur) partial-aggregated count tables, broadcast marginals +
    corpus-size scalar); the unigram table joins on the RIGHT token —
    one extra broadcast-sized join, no new corpus scan."""
    docs = load(spark, sf_dir, "documents")
    tf, bc, lm = _bigram_counts(docs)
    allt = docs.select(F.explode(tokens("text")).alias("term"))
    uc = allt.groupBy("term").agg(F.count("*").alias("ucnt"))
    nn = allt.agg(F.count("*").alias("n"))
    num = (
        F.lit(_JM_NUM) * F.col("bcnt") * F.col("n")
        + F.lit(10 - _JM_NUM) * F.col("ucnt") * F.col("lcnt")
    )
    den = F.lit(10) * F.col("lcnt") * F.col("n")
    return _bigram_score(
        tf.join(bc, ["p", "q"])
        .join(F.broadcast(lm), "p")
        .join(F.broadcast(uc), tf.q == uc.term)
        .join(F.broadcast(nn)),
        num.cast("double") / den.cast("double"),
    )


_HP_FOLD_SQL = (
    "CAST(((instr('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(sha256(text), 2, 1)) - 1))"
    " % 5 AS INTEGER)"
)  # must mirror sampling._KFOLD's content-hash fold (asserted in tests)


@query(
    "text_heldout_perplexity",
    f"""
    WITH d AS (
      SELECT doc_id, text, {_HP_FOLD_SQL} AS fold FROM documents
    ),
    trtok AS MATERIALIZED (
      SELECT unnest(string_split(text, ' ')) AS term FROM d WHERE fold != 0
    ),
    uc AS (SELECT term, count(*) AS ucnt FROM trtok GROUP BY 1),
    nv AS (SELECT count(*) AS n, count(DISTINCT term) AS v FROM trtok),
    bc AS MATERIALIZED (
      SELECT p, q, count(*) AS bcnt FROM (
        SELECT p, q FROM (
          SELECT unnest(list_transform(range(1, len(t)),
                        i -> {{'p': t[i], 'q': t[i + 1]}})) AS pq
          FROM (SELECT string_split(text, ' ') AS t FROM d WHERE fold != 0)
          WHERE len(t) >= 2
        ), LATERAL (SELECT pq['p'] AS p, pq['q'] AS q)
      ) GROUP BY 1, 2
    ),
    lm AS (SELECT p, sum(bcnt) AS lcnt FROM bc GROUP BY 1),
    hp AS (
      SELECT doc_id, p, q, count(*) AS c FROM (
        SELECT doc_id, p, q FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                i -> {{'p': t[i], 'q': t[i + 1]}})) AS pq
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM d
                WHERE fold = 0)
          WHERE len(t) >= 2
        ), LATERAL (SELECT pq['p'] AS p, pq['q'] AS q)
      ) GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT hp.doc_id, hp.c,
             CASE WHEN COALESCE(bc.bcnt, 0) = 0 THEN hp.c ELSE 0 END AS unseen,
             CASE WHEN COALESCE(lm.lcnt, 0) > 0 THEN
               CAST(round(ln(
                 CAST(7 * COALESCE(bc.bcnt, 0) * (nv.n + nv.v + 1)
                      + 3 * (COALESCE(uc.ucnt, 0) + 1) * lm.lcnt AS DOUBLE)
                 / CAST(10 * lm.lcnt * (nv.n + nv.v + 1) AS DOUBLE))
                 * 1000000000) AS BIGINT)
             ELSE
               CAST(round(ln(CAST(COALESCE(uc.ucnt, 0) + 1 AS DOUBLE)
                             / CAST(nv.n + nv.v + 1 AS DOUBLE))
                 * 1000000000) AS BIGINT)
             END AS lp
      FROM hp LEFT JOIN bc USING (p, q) LEFT JOIN lm USING (p)
           LEFT JOIN uc ON uc.term = hp.q, nv
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(unseen) AS BIGINT) AS n_unseen_bigrams,
           round(-(CAST(SUM(c * lp) AS DOUBLE) / 1000000000) / SUM(c), 6)
             AS avg_neg_logprob
    FROM terms GROUP BY doc_id
    """,
)
def text_heldout_perplexity(spark, sf_dir):
    """TRUE held-out perplexity — the composition `split_kfold_assign` ×
    `text_interpolated_logprob` exists for: the interpolated LM is
    trained on folds 1-4 ONLY and scores the fold-0 documents it has
    never seen. Unlike the in-corpus scorers (every count ≥ 1 there),
    held-out scoring meets genuinely unseen events, so the unigram leg
    carries Laplace smoothing — p(w) = (c_tr(w)+1)/(N_tr+V_tr+1), the
    +1 class standing in for UNK — and an unseen left-context backs off
    to the pure smoothed unigram (the λ-mixture's bigram leg is defined
    only where c(prev,·) > 0). Per-doc output adds `n_unseen_bigrams`,
    the contamination/novelty signal itself: a held-out doc whose
    bigrams the train folds have all seen is either leaked or
    boilerplate. Same rational-fraction determinism as the interpolated
    op (exact int64 numerator/denominator per case, one ln quantized at
    1e9 pre-sum). Scale: train tables shuffle once at (prev,cur) grain;
    the held-out side is 1/k of the corpus joining against broadcast
    count tables; fold assignment is the narrow content-hash map."""
    from .sampling import _KFOLD

    docs = load(spark, sf_dir, "documents")
    nib = lambda i: (  # noqa: E731 — mirrors the SQL nibble idiom
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.sha2("text", 256), i, 1)
        )
        - 1
    )
    fold = ((nib(1) * 16 + nib(2)) % _KFOLD).cast("int")
    d = docs.select("doc_id", "text", fold.alias("fold"))
    tr = d.filter(F.col("fold") != 0)
    ho = d.filter(F.col("fold") == 0)
    trtok = tr.select(F.explode(tokens("text")).alias("term"))
    uc = trtok.groupBy("term").agg(F.count("*").alias("ucnt"))
    # (N_tr, V_tr) from the unigram count table, not a second tokenize
    # pass: N == sum of per-term counts and V == the table's row count —
    # exact integer identities, and uc's by-term aggregation exchange is
    # reused at runtime where the direct count/count_distinct over trtok
    # re-scanned and re-exploded the training folds (r15-opt A/B:
    # outputs row-identical at all three SFs, one job/stage fewer,
    # fixture-neutral; the win is the removed full-corpus pass at
    # scale).
    nv = uc.agg(F.sum("ucnt").alias("n"), F.count("*").alias("v"))

    def bigrams(frame, with_doc):
        cols = (["doc_id"] if with_doc else []) + ["pq.p", "pq.q"]
        return (
            frame.select(
                *([F.col("doc_id")] if with_doc else []),
                tokens("text").alias("t"),
            )
            .filter(F.size("t") >= 2)
            .select(
                *([F.col("doc_id")] if with_doc else []),
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(t) - 2),"
                        " i -> struct(t[i] AS p, t[i + 1] AS q))"
                    )
                ).alias("pq"),
            )
            .select(*cols)
        )

    bc = bigrams(tr, False).groupBy("p", "q").agg(F.count("*").alias("bcnt"))
    lm = bc.groupBy("p").agg(F.sum("bcnt").alias("lcnt"))
    hp = (
        bigrams(ho, True)
        .groupBy("doc_id", "p", "q")
        .agg(F.count("*").alias("c"))
    )
    j = (
        hp.join(F.broadcast(bc), ["p", "q"], "left")
        .join(F.broadcast(lm), "p", "left")
        .join(F.broadcast(uc), hp.q == uc.term, "left")
        .crossJoin(F.broadcast(nv))
    )
    bcnt = F.coalesce(F.col("bcnt"), F.lit(0))
    lcnt = F.coalesce(F.col("lcnt"), F.lit(0))
    ucnt = F.coalesce(F.col("ucnt"), F.lit(0))
    nv1 = F.col("n") + F.col("v") + 1
    seen_lp = F.round(
        F.log(
            (F.lit(7) * bcnt * nv1 + F.lit(3) * (ucnt + 1) * lcnt).cast(
                "double"
            )
            / (F.lit(10) * lcnt * nv1).cast("double")
        )
        * 1_000_000_000
    ).cast("long")
    oov_lp = F.round(
        F.log((ucnt + 1).cast("double") / nv1.cast("double")) * 1_000_000_000
    ).cast("long")
    lp = F.when(lcnt > 0, seen_lp).otherwise(oov_lp)
    unseen = F.when(bcnt == 0, F.col("c")).otherwise(F.lit(0))
    return (
        j.select("doc_id", "c", unseen.alias("unseen"), lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum("unseen").cast("long").alias("n_unseen_bigrams"),
            F.round(
                -(F.sum(F.col("c") * F.col("lp")).cast("double")
                  / 1_000_000_000)
                / F.sum("c"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


_BP_W = 8  # tokens per non-overlapping pseudo-sentence chunk


@query(
    "text_boilerplate_ngrams",
    f"""
    WITH chunks AS (
      SELECT doc_id,
             substr(sha256(array_to_string(t[s.i : s.i + {_BP_W} - 1], ' ')),
                    1, 16) AS fp
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t), {_BP_W})) AS s(i)
    ),
    census AS (
      SELECT fp, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY fp
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN census.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           round(CAST(SUM(CASE WHEN census.nd >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS shared_ratio
    FROM chunks c JOIN census USING (fp)
    GROUP BY c.doc_id
    """,
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Cross-document boilerplate census at sub-document granularity —
    the RefinedWeb/C4 line-dedup signal one level below whole-doc dedup:
    each doc is cut into non-overlapping {_BP_W}-token pseudo-sentences
    (the fixture prose has no punctuation; a real corpus splits on
    newlines/sentences), each chunk fingerprinted, and a doc is scored by
    the fraction of its chunks that ALSO appear in at least one other
    document. High shared_ratio = templated/boilerplate page even when no
    whole-doc duplicate exists. Scale shapes: chunks shuffle as 16-char
    hash prefixes (not text) for the global census (map-side
    partial-aggregating count_distinct on doc_id is bounded by docs per
    chunk); the per-doc re-join is on the same fingerprint key, so one
    partitioning serves both sides. The chunking itself is a JVM array
    slice — the corpus never round-trips Python."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    starts = F.sequence(F.lit(1), F.size("t"), F.lit(_BP_W))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.substring(
                    F.sha2(F.array_join(F.slice("t", s, _BP_W), " "), 256),
                    1,
                    16,
                ),
            )
        ).alias("fp"),
    )
    census = chunks.groupBy("fp").agg(F.count_distinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        chunks.join(census, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            shared.cast("long").alias("n_shared_chunks"),
            F.round(
                shared.cast("double") / F.count("*"), 6
            ).alias("shared_ratio"),
        )
    )


@query(
    "text_zipf_fit",
    """
    WITH counts AS (
      SELECT term, count(*) AS c FROM
        (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE term <> ''
      GROUP BY term
    ),
    ranked AS (
      SELECT term, c,
             row_number() OVER (ORDER BY c DESC, term) AS rnk
      FROM counts
    ),
    pts AS (
      SELECT CAST(round(ln(rnk) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(c) * 1000000) AS BIGINT) AS y,
             term, c, rnk
      FROM ranked
    ),
    s AS (
      SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx,
             min(CASE WHEN rnk = 1 THEN term END) AS top_term,
             max(CASE WHEN rnk = 1 THEN c END) AS top_count
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           top_term, CAST(top_count AS BIGINT) AS top_count,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS zipf_slope,
           round(((CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1000000.0,
                 6) AS zipf_intercept_nats
    FROM s
    """,
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the token frequency-rank curve — the
    corpus-linguistics QA metric (natural text slopes ≈ −1; a slope far
    off flags synthetic/templated/deduplicated-to-death corpora, and the
    fit drifting between snapshots flags a distribution shift): least
    squares of ln(count) on ln(rank). Determinism: ln values are
    int64-quantized at 1e6 FIRST so the five regression sums are exact
    commutative integers; the final slope/intercept combination runs the
    IDENTICAL double-op sequence in both engines (the n·Σxy − Σx·Σy
    numerator would overflow int64, so it is computed in doubles FROM
    exact integer sums — the window_rolling_zscore pattern). Shape: one
    token count (shuffle ∝ vocab), then a FULL-vocab global rank — which
    is exactly what `_global_rank` exists for (range repartition,
    per-partition row_number in parallel, bounded offset fix-up): unlike
    the top-K ops there is no K-row escape hatch here, every term needs
    its rank, so the distributed rank machinery is load-bearing, not
    hygiene. One 1-row aggregate closes the fit."""
    from .scale import _global_rank

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    ranked, _ = _global_rank(counts, F.desc("c"), F.col("term"))
    pts = ranked.withColumnRenamed("rk", "rnk").select(
        "term",
        "c",
        "rnk",
        F.round(F.log("rnk") * 1_000_000).cast("long").alias("x"),
        F.round(F.log("c") * 1_000_000).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min(F.when(F.col("rnk") == 1, F.col("term"))).alias("top_term"),
        F.max(F.when(F.col("rnk") == 1, F.col("c"))).alias("top_count"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        F.col("n").alias("n_terms"),
        "top_term",
        F.col("top_count").cast("long").alias("top_count"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(((syd - slope * sxd) / nd) / 1_000_000.0, 6).alias(
            "zipf_intercept_nats"
        ),
    )


@query(
    "corpus_perplexity_buckets",
    f"""
    WITH scored AS ({ORACLES["text_unigram_logprob"]}),
    b AS (
      SELECT doc_id, n_tokens, avg_neg_logprob,
             ntile(3) OVER (ORDER BY avg_neg_logprob, doc_id) AS bucket
      FROM scored
    )
    SELECT CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(min(avg_neg_logprob), 6) AS score_min,
           round(max(avg_neg_logprob), 6) AS score_max
    FROM b GROUP BY bucket
    """,
)
def corpus_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split: docs terciled by LM quality score
    (here the unigram perplexity proxy — the oracle inlines its full
    computation) with a per-bucket doc/token census — the table that
    decides which tercile feeds training, which gets re-filtered, and
    which is dropped. The tercile cut uses ntile over a fully tie-broken
    order (score, doc_id) so both engines cut identically. Delegates to
    the distributed rank machinery (VERDICT r6 cleanup) — the tercile is
    a `_global_rank` + integer-ntile pass, no single-partition window;
    the scalable twin proved oracle equality before the legacy key was
    re-pointed."""
    from .scale import corpus_perplexity_buckets_scalable

    return corpus_perplexity_buckets_scalable(spark, sf_dir)


@query(
    "text_entropy_char",
    """
    WITH cf AS (
      SELECT doc_id, ch, count(*) AS c FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
      ) GROUP BY doc_id, ch
    ),
    d AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT))
               AS s
      FROM cf GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars, k AS n_distinct_chars,
           round(ln(CAST(n AS DOUBLE)) - (CAST(s AS DOUBLE) / 1000000000) / n, 6)
             AS char_entropy
    FROM d
    """,
)
def text_entropy_char(spark, sf_dir):
    """Character-entropy quality signal: Shannon entropy (nats) of each
    document's character distribution — the cheap gibberish/encoding-
    garbage detector curation stacks run beside token heuristics
    (base64 blobs and key-mash read ~ln(alphabet) high; stuck-key /
    single-char spam reads near 0; natural text sits in a tight band).
    Unicode-correct: both engines split '' per CODEPOINT (probed on CJK),
    so the zh docs score over characters, not bytes.

    Determinism: H = ln(n) − (1/n)·Σ cᵢ·ln cᵢ; the per-char ln cᵢ terms
    are quantized to int64 at 1e9 FIRST so the per-doc sum commutes
    (the text_unigram_logprob idiom) — one double ln(n), one division,
    one 6dp round at the end. Shape: explode to chars, one (doc, char)
    partial-aggregating count (≤ |alphabet| rows per doc), one per-doc
    rollup — scan-bound, no joins at all."""
    docs = load(spark, sf_dir, "documents")
    cf = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    q = F.round(F.log(F.col("c").cast("double")) * 1_000_000_000).cast("long")
    d = cf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.sum(F.col("c") * q).alias("s"),
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        F.round(
            F.log(F.col("n_chars").cast("double"))
            - (F.col("s").cast("double") / 1_000_000_000)
            / F.col("n_chars"),
            6,
        ).alias("char_entropy"),
    )


@query(
    "tokenizer_fertility_by_lang",
    f"""
    WITH w0 AS (
      SELECT word, count(*) AS cnt,
             list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 1
      GROUP BY word
    ),
    {_bpe_round_sql("w0", 1)},
    {_bpe_round_sql("w1", 2)},
    {_bpe_round_sql("w2", 3)},
    sizes AS (SELECT word, len(syms) AS ntok FROM w3),
    doc_words AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    per_lang AS (
      SELECT lang,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(length(word)) AS BIGINT) AS n_chars
      FROM doc_words JOIN sizes USING (word)
      WHERE length(word) >= 1
      GROUP BY lang
    ),
    corpus AS (
      SELECT CAST(SUM(n_bpe_tokens) AS DOUBLE) / SUM(n_words) AS f_corpus
      FROM per_lang
    )
    SELECT p.lang, p.n_docs, p.n_words, p.n_bpe_tokens,
           round(CAST(p.n_bpe_tokens AS DOUBLE) / p.n_words, 6) AS fertility,
           round(CAST(p.n_chars AS DOUBLE) / p.n_bpe_tokens, 6)
             AS chars_per_token,
           round((CAST(p.n_bpe_tokens AS DOUBLE) / p.n_words) / c.f_corpus, 6)
             AS fertility_vs_corpus
    FROM per_lang p, corpus c
    """,
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility parity report — the multilingual-fairness
    number (tokens per word, per language) that decides whether a BPE
    vocabulary taxes some languages with more tokens per word (higher
    serving cost, shorter effective context for the same text). Uses the
    SAME trained merge table as ``text_bpe_encode`` (shared
    ``_bpe_sizes`` dimension), rolled up per language with each
    language's fertility normalized against the corpus-wide fertility —
    a ratio > 1 flags the penalized languages (the metric behind 'train
    a bigger multilingual vocab' decisions).

    Shapes: the word→token-count table is the broadcast dimension (∝
    |vocab|); the corpus streams past it once; the report is |langs|
    rows. All counts integer; three divisions on exact integer inputs,
    each rounded once — IEEE-deterministic cross-engine."""
    sizes = _bpe_sizes(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("word")
    ).filter(F.length("word") >= 1)
    per_lang = (
        doc_words.join(F.broadcast(sizes), "word")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("ntok").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
    )
    corpus = per_lang.agg(
        (F.sum("n_bpe_tokens").cast("double") / F.sum("n_words")).alias(
            "f_corpus"
        )
    )
    return per_lang.crossJoin(F.broadcast(corpus)).select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
        F.round(
            (F.col("n_bpe_tokens").cast("double") / F.col("n_words"))
            / F.col("f_corpus"),
            6,
        ).alias("fertility_vs_corpus"),
    )


@query(
    "text_js_divergence_sources",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    st AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
    ct AS (SELECT term, CAST(SUM(c) AS BIGINT) AS c FROM st GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
    grid AS (
      SELECT s.source, t.term, s.n AS ns, t.c AS ct, n.n AS nc,
             COALESCE(st.c, 0) AS cs
      FROM ns s CROSS JOIN ct t CROSS JOIN n
      LEFT JOIN st ON st.source = s.source AND st.term = t.term
    ),
    terms AS (
      SELECT source,
             CAST(round((
               CASE WHEN cs > 0 THEN
                 0.5 * (CAST(cs AS DOUBLE) / ns)
                     * ln((CAST(cs AS DOUBLE) / ns)
                          / (0.5 * (CAST(cs AS DOUBLE) / ns
                                    + CAST(ct AS DOUBLE) / nc)))
               ELSE 0 END
               + 0.5 * (CAST(ct AS DOUBLE) / nc)
                     * ln((CAST(ct AS DOUBLE) / nc)
                          / (0.5 * (CAST(cs AS DOUBLE) / ns
                                    + CAST(ct AS DOUBLE) / nc)))
             ) * 1000000000000) AS BIGINT) AS q
      FROM grid
    )
    SELECT source,
           (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_vocab_terms,
           round(CAST(SUM(q) AS DOUBLE) / 1000000000000, 6) AS jsd_nats
    FROM terms GROUP BY source
    """,
)
def text_js_divergence_sources(spark, sf_dir):
    """Source-vs-corpus distribution drift: Jensen-Shannon divergence
    between each source's unigram distribution and the whole corpus's —
    the bounded, symmetric drift metric (0 = identical, ln 2 = disjoint)
    curation stacks chart per source/per snapshot to catch a feed whose
    content silently changed. Absent terms contribute the q·ln2 tail via
    the p=0 branch, so the metric is exact, not truncated.

    Determinism: each (source, term) cell's JSD contribution is computed
    in doubles FROM EXACT INTEGER ratios (identical inputs → identical
    IEEE result in both engines), quantized to int64 at 1e12, and summed
    in integers — the per-cell generalization of the quantized-ln idiom
    (a direct double SUM would be accumulation-order-dependent). Shapes:
    the grid is |sources|×|vocab| (dimension-sized; the corpus itself is
    touched once for the term counts); the vocab and totals broadcast."""
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("cs"))
    ns = st.groupBy("source").agg(F.sum("cs").cast("long").alias("ns"))
    ct = st.groupBy("term").agg(F.sum("cs").cast("long").alias("ct"))
    n = ct.agg(F.sum("ct").cast("long").alias("nc"))
    grid = (
        ns.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(st, ["source", "term"], "left")
        .fillna({"cs": 0})
    )
    p = F.col("cs").cast("double") / F.col("ns")
    q = F.col("ct").cast("double") / F.col("nc")
    m = 0.5 * (p + q)
    contrib = (
        F.when(F.col("cs") > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + 0.5 * q * F.log(q / m)
    )
    terms = grid.select(
        "source", F.round(contrib * 1_000_000_000_000).cast("long").alias("q")
    )
    nv = ct.agg(F.count("*").cast("long").alias("n_vocab_terms"))
    return (
        terms.groupBy("source")
        .agg(F.sum("q").alias("s"))
        .crossJoin(F.broadcast(nv))
        .select(
            "source",
            "n_vocab_terms",
            F.round(F.col("s").cast("double") / 1_000_000_000_000, 6).alias(
                "jsd_nats"
            ),
        )
    )


_KW_K = 3  # keywords extracted per document


@query(
    "text_tfidf_keywords_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM tok),
    idf AS (
      SELECT term,
             CAST(round(ln(CAST((SELECT nd FROM n) AS DOUBLE)
                           / count(DISTINCT doc_id)) * 1000000000) AS BIGINT)
               AS w
      FROM tok GROUP BY term
    )
    SELECT doc_id, CAST(rk AS INTEGER) AS rk, term,
           CAST(score AS BIGINT) AS score
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf * idf.w AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * idf.w DESC, tf.term) AS rk
      FROM tf JOIN idf USING (term)
    ) WHERE rk <= {_KW_K}
    """,
)
def text_tfidf_keywords_topk(spark, sf_dir):
    """Per-document keyword extraction — top-{_KW_K} terms by TF-IDF, the
    summarization/tagging primitive (and the feature a sparse retriever
    indexes): score = tf · idf with idf int64-quantized at 1e9 (the
    weighted-jaccard idiom), so the score is an exact integer and the
    per-doc ranking (desc score, term tie-break) is total cross-engine.
    Scale shape: term frequencies partial-aggregate map-side on
    (doc, term); the idf table joins on term (AQE broadcasts while the
    vocabulary fits, shuffles when it doesn't — deliberately unhinted,
    the wjac lesson); the ranking window is PARTITIONED by doc — every
    document ranks in parallel, nothing global anywhere."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # nd and df from the (doc, term) frequency table, not two more
    # token-grain passes: tf rows are unique per (doc_id, term), so
    # df == count(*) per term (no distinct machinery at all) and
    # nd == count_distinct(doc_id) over tf — exact integer identities,
    # and all three consumers now share tf's one aggregation exchange
    # (runtime stage reuse) where the split form re-tokenized the corpus
    # three times (r15-opt: outputs row-identical at all three SFs; law
    # test pins both identities at the graded fixtures).
    nd = tf.agg(F.count_distinct("doc_id").alias("nd"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("df"))
                * 1_000_000_000
            )
            .cast("long")
            .alias("w"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf") * F.col("w")), "term"
    )
    return (
        tf.join(idf, "term")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _KW_K)
        .select(
            "doc_id",
            "rk",
            "term",
            (F.col("tf") * F.col("w")).cast("long").alias("score"),
        )
    )


# --- BM25 lexical retrieval (round 8) --------------------------------------

_BM25_TERMS = ["spark", "query", "window"]  # fixture-probed: all present
_BM25_K = 10

# Shared BM25 per-document aggregate (Okapi BM25, Lucene's nonnegative
# +1 idf form), as a DuckDB CTE chain ending in ``bm(doc_id, n_terms_hit,
# s)`` with ``s`` the 1e6-quantized integer score. Kept as a fragment so
# the hybrid-retrieval oracle can nest the SAME lexical pipeline.
# Determinism: k1=1.2 and b=0.75 are rationals, so the classic form
#   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))      (avgdl = T/N)
# clears to the all-integer ratio
#   idf · 22·tf·T / (10·tf·T + 3·T + 9·dl·N)
# with idf pre-quantized to int64 at 1e9 (the quantized-ln idiom); the
# one double division runs over exact integers with an IDENTICAL
# expression tree in both engines, then quantizes to 1e6 per (doc, term)
# before the commutative integer per-doc sum.
_BM25_AGG_SQL = """
    q AS (SELECT * FROM (VALUES ('spark'), ('query'), ('window')) v(term)),
    btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
    bdl AS (SELECT doc_id, count(*) AS dl FROM btok GROUP BY doc_id),
    btot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n
             FROM bdl),
    btf AS (SELECT b.doc_id, b.term, count(*) AS tf
            FROM btok b JOIN q USING (term) GROUP BY 1, 2),
    bdf AS (SELECT term, count(DISTINCT doc_id) AS df
            FROM btok JOIN q USING (term) GROUP BY 1),
    bidf AS (SELECT term,
                    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5)
                                     / (df + 0.5)) * 1000000000) AS BIGINT)
                      AS idf
             FROM bdf, btot),
    bsc AS (
      SELECT tf.doc_id,
             CAST(round(CAST(idf.idf AS DOUBLE) * tf.tf * 22.0 * btot.t
                        / (CAST(10 * tf.tf * btot.t + 3 * btot.t
                                + 9 * bdl.dl * btot.n AS DOUBLE) * 1000.0))
                  AS BIGINT) AS si
      FROM btf tf
      JOIN bidf idf USING (term)
      JOIN bdl USING (doc_id), btot
    ),
    bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
                  CAST(SUM(si) AS BIGINT) AS s
           FROM bsc GROUP BY doc_id)
"""


def _bm25_doc_scores(spark, sf_dir, qt=None):
    """Spark twin of ``_BM25_AGG_SQL``: (doc_id, n_terms_hit, s) with s the
    1e6-quantized integer BM25 score for the query term set ``qt`` (a
    one-column ``term`` frame; defaults to the fixed ``_BM25_TERMS`` —
    the PRF op passes its expanded set). Scale shape: tokenize
    partial-aggregates to doc grain (shuffle ∝ matched doc-terms after
    the broadcast term-filter join); df/idf and corpus totals are
    ≤|query|-row and 1-row broadcasts."""
    docs = load(spark, sf_dir, "documents")
    if qt is None:
        qt = docs.limit(1).select(
            F.explode(F.array(*[F.lit(t) for t in _BM25_TERMS])).alias("term")
        )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tot = dl.agg(
        F.sum("dl").cast("long").alias("t"), F.count("*").cast("long").alias("n")
    )
    hit = tok.join(F.broadcast(qt), "term")
    tf = hit.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = hit.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = (
        df.crossJoin(F.broadcast(tot))  # |query terms| x 1 row
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1)
                    + (F.col("n").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("idf"),
        )
    )
    si = (
        F.round(
            F.col("idf").cast("double") * F.col("tf") * 22.0 * F.col("t")
            / (
                (
                    10 * F.col("tf") * F.col("t")
                    + 3 * F.col("t")
                    + 9 * F.col("dl") * F.col("n")
                ).cast("double")
                * 1000.0
            )
        )
        .cast("long")
        .alias("si")
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", si)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_hit"),
        F.sum("si").cast("long").alias("s"),
    )


@query(
    "text_bm25_topk",
    f"""
    WITH {_BM25_AGG_SQL}
    SELECT doc_id, n_terms_hit,
           round(CAST(s AS DOUBLE) / 1000000.0, 6) AS bm25,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id) AS rk
          FROM bm)
    WHERE rk <= {_BM25_K}
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval — the lexical relevance baseline every
    search / RAG stack starts from (and the half the hybrid-retrieval op
    fuses with vectors): score all documents for a fixed 3-term query,
    return the top 10 with ranks. Uses Lucene's nonnegative ``ln(1 +
    (N − df + ½)/(df + ½))`` idf (the classic Robertson form goes
    NEGATIVE for df > N/2, which this tiny synthetic vocab would hit on
    every term). All determinism lives in the integer clearing of the
    k1/b rationals (see ``_BM25_AGG_SQL``); ties break on exact integer
    scores then doc_id. Top-10 via TakeOrderedAndProject + K-row rerank
    (`_topk_ranked`) — no global ranking window. At 100 TB the tf/df
    tables are the standard inverted-index aggregates (shuffle ∝ postings
    of the query terms after a broadcast term filter, never the corpus)."""
    from .scale import _topk_ranked

    bm = _bm25_doc_scores(spark, sf_dir)
    return _topk_ranked(bm, _BM25_K, F.desc("s"), F.col("doc_id")).select(
        "doc_id",
        "n_terms_hit",
        F.round(F.col("s").cast("double") / 1_000_000.0, 6).alias("bm25"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "text_kneser_ney_logprob",
    """
    WITH kpairs AS (
      SELECT doc_id, p, q FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> {'p': t[i], 'q': t[i + 1]})) AS pq
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
      ), LATERAL (SELECT pq['p'] AS p, pq['q'] AS q)
    ),
    ktf AS (SELECT doc_id, p, q, count(*) AS c FROM kpairs GROUP BY 1, 2, 3),
    kbc AS (SELECT p, q, count(*) AS bcnt FROM kpairs GROUP BY 1, 2),
    kctx AS (SELECT p, sum(bcnt) AS c1, count(*) AS n1p FROM kbc GROUP BY 1),
    kcont AS (SELECT q, count(*) AS nc FROM kbc GROUP BY 1),
    knb AS (SELECT count(*) AS nb FROM kbc),
    kscored AS (
      SELECT ktf.doc_id,
             SUM(ktf.c) AS n_bigrams,
             SUM(ktf.c * CAST(round(ln(
                   CAST((4 * kbc.bcnt - 3) * knb.nb
                        + 3 * kctx.n1p * kcont.nc AS DOUBLE)
                   / CAST(4 * kctx.c1 * knb.nb AS DOUBLE))
                 * 1000000000) AS BIGINT)) AS s
      FROM ktf JOIN kbc USING (p, q) JOIN kctx USING (p)
      JOIN kcont USING (q), knb
      GROUP BY ktf.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(-(CAST(s AS DOUBLE) / 1000000000) / n_bigrams, 6)
             AS kn_neg_logprob
    FROM kscored
    """,
)
def text_kneser_ney_logprob(spark, sf_dir):
    """Kneser-Ney-smoothed bigram scoring — the production LM smoothing
    (Chen & Goodman's winner, what KenLM ships) completing the add-one /
    Jelinek-Mercer family: absolute discount D=¾ on the bigram ML
    estimate, with the stolen mass backed off to the CONTINUATION
    unigram ("how many contexts does w complete") instead of raw
    frequency — the fix for 'Francisco is frequent but only follows
    San'. Interpolated form, scored on the training corpus itself (every
    scored bigram has c ≥ 1, so the max(c−D, 0) branch never activates):

        P(w2|w1) = (c − ¾)/c1 + (¾/c1)·N1+(w1·)·(N1+(·w2)/N1+(··))
                 = ((4c−3)·nb + 3·n1p(w1)·nc(w2)) / (4·c1·nb)

    — D=¾ clears to an ALL-INTEGER rational, so each bigram's ln runs on
    exact int64 numerator/denominator (quantized at 1e9, the house
    idiom), the per-doc sum is commutative integers, and the score is
    cross-engine exact. Scale shape: identical to the other LM scorers —
    bigram counts partial-aggregate (shuffle ∝ bigram types), the
    context/continuation tables are |vocab|-row broadcasts, nb is a
    1-row broadcast; the corpus streams past once."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS p, t[i + 1] AS q))"
            )
        ).alias("b"),
    ).select("doc_id", "b.p", "b.q")
    tf = bg.groupBy("doc_id", "p", "q").agg(F.count("*").alias("c"))
    bc = bg.groupBy("p", "q").agg(F.count("*").alias("bcnt"))
    ctx = bc.groupBy("p").agg(
        F.sum("bcnt").alias("c1"), F.count("*").alias("n1p")
    )
    cont = bc.groupBy("q").agg(F.count("*").alias("nc"))
    nb = bc.agg(F.count("*").alias("nb"))
    lp = (
        F.round(
            F.log(
                ((4 * F.col("bcnt") - 3) * F.col("nb")
                 + 3 * F.col("n1p") * F.col("nc")).cast("double")
                / (4 * F.col("c1") * F.col("nb")).cast("double")
            )
            * 1_000_000_000
        )
        .cast("long")
        .alias("lp")
    )
    scored = (
        tf.join(bc, ["p", "q"])  # bigram-TYPE grain: shuffle join, never
        # broadcast — types grow ~vocab² at corpus scale
        .join(F.broadcast(ctx), "p")
        .join(F.broadcast(cont), "q")
        .crossJoin(F.broadcast(nb))
        .select("doc_id", "c", lp)
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum(F.col("c") * F.col("lp")).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round(
            -(F.col("s").cast("double") / 1_000_000_000) / F.col("n_bigrams"), 6
        ).alias("kn_neg_logprob"),
    )


_PRF_FB_DOCS = 10  # feedback depth (pass-1 docs mined for expansion terms)
_PRF_EXP_TERMS = 5  # expansion terms added to the query


@query(
    "text_bm25_prf_expansion",
    f"""
    WITH {_BM25_AGG_SQL},
    p1top AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rk
        FROM bm
      ) WHERE rk <= {_PRF_FB_DOCS}
    ),
    tfall AS (SELECT doc_id, term, count(*) AS tf
              FROM btok GROUP BY 1, 2),
    expw AS (
      SELECT tf.term, CAST(SUM(tf.tf * p.s) AS BIGINT) AS w
      FROM tfall tf JOIN p1top p USING (doc_id)
      WHERE tf.term NOT IN (SELECT term FROM q)
      GROUP BY tf.term
    ),
    expt AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY w DESC, term) AS rk
        FROM expw
      ) WHERE rk <= {_PRF_EXP_TERMS}
    ),
    qset AS (SELECT term FROM q UNION SELECT term FROM expt),
    dfq AS (SELECT b.term, count(DISTINCT b.doc_id) AS df
            FROM btok b JOIN qset USING (term) GROUP BY 1),
    idfq AS (SELECT term,
                    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5)
                                     / (df + 0.5)) * 1000000000) AS BIGINT)
                      AS idf
             FROM dfq, btot),
    sc2 AS (
      SELECT tf.doc_id,
             CAST(round(CAST(idf.idf AS DOUBLE) * tf.tf * 22.0 * btot.t
                        / (CAST(10 * tf.tf * btot.t + 3 * btot.t
                                + 9 * bdl.dl * btot.n AS DOUBLE) * 1000.0))
                  AS BIGINT) AS si
      FROM (SELECT f.doc_id, f.term, f.tf
            FROM tfall f JOIN qset USING (term)) tf
      JOIN idfq idf USING (term)
      JOIN bdl USING (doc_id), btot
    ),
    bm2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
                   CAST(SUM(si) AS BIGINT) AS s
            FROM sc2 GROUP BY doc_id)
    SELECT doc_id, n_terms_hit,
           round(CAST(s AS DOUBLE) / 1000000.0, 6) AS bm25,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id) AS rk
          FROM bm2)
    WHERE rk <= {_BM25_K}
    """,
)
def text_bm25_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (RM3-family) — the
    third rung of the retrieval ladder after BM25 and RRF: run the BM25
    pass, assume the top 10 are relevant, mine them for the 5 heaviest
    non-query terms (weight = Σ tf(t,d)·score(d) over the feedback docs
    — all-integer since the pass-1 scores are already 1e6-quantized
    ints), add those to the query, and re-rank the corpus with the
    expanded set. Recall goes up without any model: documents phrased
    differently from the query get pulled in by co-occurring vocabulary.
    Every stage is exactly determinized: integer expansion weights with
    term tie-breaks, the same all-integer BM25 clearing for pass 2, and
    both top-K stages via TakeOrderedAndProject + K-row rerank. Scale
    shape: pass 2's tf/df tables are the same inverted-index aggregates
    restricted by a (|q|+5)-row broadcast term set; the feedback mining
    joins the doc-term table against a 10-row broadcast — nothing new
    shuffles at corpus grain beyond the two passes themselves."""
    from .scale import _topk_ranked

    docs = load(spark, sf_dir, "documents")
    pq = docs.limit(1).select(
        F.explode(F.array(*[F.lit(t) for t in _BM25_TERMS])).alias("term")
    )
    bm1 = _bm25_doc_scores(spark, sf_dir)
    p1 = _topk_ranked(bm1, _PRF_FB_DOCS, F.desc("s"), F.col("doc_id")).select(
        "doc_id", "s"
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tfall = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    expw = (
        tfall.join(F.broadcast(p1), "doc_id")
        .join(F.broadcast(pq), "term", "left_anti")
        .groupBy("term")
        .agg(F.sum(F.col("tf") * F.col("s")).cast("long").alias("w"))
    )
    expt = _topk_ranked(expw, _PRF_EXP_TERMS, F.desc("w"), F.col("term")).select(
        "term"
    )
    qset = pq.unionByName(expt).distinct()
    bm2 = _bm25_doc_scores(spark, sf_dir, qt=qset)
    return _topk_ranked(bm2, _BM25_K, F.desc("s"), F.col("doc_id")).select(
        "doc_id",
        "n_terms_hit",
        F.round(F.col("s").cast("double") / 1_000_000.0, 6).alias("bm25"),
        F.col("rk").cast("int").alias("rk"),
    )


_OOV_VOCAB_K = 16


@query(
    "text_vocab_coverage_oov",
    f"""
    WITH ovv AS (
      SELECT token FROM (
        SELECT token, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rk
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
      ) WHERE rk <= {_OOV_VOCAB_K}
    ),
    ovt AS (
      SELECT source, term,
             CASE WHEN term IN (SELECT token FROM ovv) THEN 0 ELSE 1 END
               AS oov
      FROM (SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
    FROM ovt GROUP BY source
    """,
)
def text_vocab_coverage_oov(spark, sf_dir):
    """Vocabulary coverage / out-of-vocabulary rate per source — the
    tokenizer-health check run before committing a vocab: train the
    top-{_OOV_VOCAB_K} vocabulary on the whole corpus (the
    `text_vocab_build` ranking, truncated hard), then measure what
    fraction of each source's token stream falls OUTSIDE it. A source
    with a high OOV rate will fragment into byte-fallback pieces under a
    BPE tokenizer trained on this vocab (`tokenizer_fertility_by_lang`
    measures the same failure after the fact; this predicts it before).
    Exactness: token counts and the OOV indicator are integers, the rate
    is one integer floor-division to ppm. Scale shape: the vocabulary is
    a top-K TakeOrderedAndProject over the token census (broadcast as a
    {_OOV_VOCAB_K}-row set — the membership test is a broadcast join, no
    shuffle of the token stream); per-source totals partial-aggregate in
    the same pass over the exploded tokens."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(_OOV_VOCAB_K)
        .select("token")
    )
    toks = docs.select(
        "source", F.explode(tokens("text")).alias("term")
    )
    return (
        toks.join(
            F.broadcast(vocab.withColumn("in_v", F.lit(1))),
            toks.term == F.col("token"),
            "left",
        )
        .select(
            "source",
            F.when(F.col("in_v").isNull(), 1).otherwise(0).alias("oov"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


@query(
    "text_hapax_ratio",
    """
    WITH htf AS (
      SELECT source, term, count(*) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY source, term
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           round(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_ratio
    FROM htf GROUP BY source
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """Per-source hapax-legomena ratio — the lexical-richness signal a
    corpus-curation pass reads alongside `text_zipf_fit` (distribution
    shape) and `vocab_growth_curve` (heaps growth): a source whose hapax
    share collapses is template/boilerplate-heavy; one where it explodes
    is OCR noise or codepoint soup. Exactness: everything is integer
    counts; the ratio is one double division + 6dp round. Scale shape:
    tokenize-then-aggregate twice — the (source, term) census
    partial-aggregates map-side so the first shuffle carries distinct
    (source, term) cells, not token occurrences, and the second collapses
    to |sources| rows. No window, no join, no driver fetch."""
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("cnt"))
    hap = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.count("*").alias("vocab"),
        hap.cast("long").alias("n_hapax"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.round(hap.cast("double") / F.count("*"), 6).alias("hapax_ratio"),
    )
