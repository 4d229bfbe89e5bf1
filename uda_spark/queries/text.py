"""Text-analysis queries over the documents table (north-star ops):
token statistics, language ID, quality scoring, fingerprinting.

Spark side is higher-order functions over the token array, or — for
per-document gram work (repetition stats, decontamination, duplicated
n-gram coverage) — the Arrow text kernels of operators/dedup.py; either
way no shuffle before the final (tiny) aggregation, and at 100 TB these
are map-only passes.  Every derived value is engine-portable
(functions/portable.py + functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from uda_spark.cache import tracked_persist
from uda_spark.functions import portable, text as TXT
from uda_spark.operators.dedup import _doc_grams, gram_hash_rows_arrow, text_kernel
from uda_spark.plans import partitioning as PART
from uda_spark.queries.common import t
from uda_spark.registry import register

_SP_TOKS = portable.tokens("text", "spark")
_DU_TOKS = portable.tokens("text", "duck")


@register(
    "text_token_stats",
    oracle=f"""
WITH base AS (SELECT doc_id, {_DU_TOKS} AS toks, n_chars FROM documents)
SELECT doc_id,
       CAST({TXT.token_count('toks', 'duck')} AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
       CAST({TXT.stopword_hits('toks', 'duck')} AS BIGINT) AS n_stopwords,
       {TXT.fingerprint('toks', 'duck')} AS fingerprint
FROM base
""",
    tags=("text", "north-star"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts + order-sensitive rolling-hash fingerprint."""
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    return docs.select(
        "doc_id",
        F.expr(TXT.token_count("toks", "spark")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_uniq_tokens"),
        F.expr(TXT.stopword_hits("toks", "spark")).cast("long").alias("n_stopwords"),
        F.expr(TXT.fingerprint("toks", "spark")).alias("fingerprint"),
    )


@register(
    "text_quality_langid",
    oracle=f"""
WITH base AS (SELECT doc_id, lang, {_DU_TOKS} AS toks, n_chars FROM documents)
SELECT doc_id,
       {TXT.quality_score_ppm('toks', 'n_chars', 'duck')} AS quality_ppm,
       {TXT.lang_predict('toks', 'duck')} AS lang_pred,
       CAST(CASE WHEN {TXT.lang_predict('toks', 'duck')} = lang THEN 1 ELSE 0 END AS INT)
         AS lang_match
FROM base
""",
    tags=("text", "north-star"),
)
def text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + marker-vocabulary language-ID heuristic per doc."""
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    pred = F.expr(TXT.lang_predict("toks", "spark"))
    return docs.select(
        "doc_id",
        F.expr(TXT.quality_score_ppm("toks", "n_chars", "spark")).alias("quality_ppm"),
        pred.alias("lang_pred"),
        F.when(pred == F.col("lang"), 1).otherwise(0).cast("int").alias("lang_match"),
    )


@register(
    "text_quality_by_source",
    oracle=f"""
WITH base AS (SELECT source, {_DU_TOKS} AS toks, n_chars FROM documents)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM({TXT.quality_score_ppm('toks', 'n_chars', 'duck')}) // COUNT(*) AS BIGINT) AS avg_quality_ppm,
       CAST(SUM({TXT.token_count('toks', 'duck')}) AS BIGINT) AS total_tokens
FROM base GROUP BY source
""",
    tags=("text", "north-star", "aggregation"),
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation view: per-source quality/size profile.

    Integer ppm scores sum exactly; the integer-division average is
    engine-exact by construction.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    q = F.expr(TXT.quality_score_ppm("toks", "n_chars", "spark"))
    ntok = F.expr(TXT.token_count("toks", "spark"))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr(f"sum({TXT.quality_score_ppm('toks', 'n_chars', 'spark')}) div count(*)").alias("avg_quality_ppm"),
        F.sum(ntok).cast("long").alias("total_tokens"),
    )


@register(
    "text_bpe_token_hist",
    oracle="""
WITH tk AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
  FROM documents
)
SELECT len(toks)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS n_docs
FROM tk GROUP BY 1
""",
    tags=("text", "north-star"),
)
def text_bpe_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-document token counts under a BPE-ish regex
    tokenizer (letter runs | digit runs | single punctuation) — the
    pre-merge vocabulary a byte-pair encoder starts from.

    Pure map-side regexp (identical RE semantics in both engines for
    this character-class-only pattern) + one tiny exchange on the
    histogram key.
    """
    toks = "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"
    return (
        t(spark, sf_dir, "documents")
        .select(F.size(F.expr(toks)).cast("long").alias("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count("*").alias("n_docs"))
    )


TFIDF_TOP_K = 3

# The tf relation feeds BOTH the df aggregation and the final join.  Spark
# does not reuse the exchange between them (the df branch prunes the count
# column, so the subplans differ — verified in the executed adaptive plan:
# 2 parquet scans, 0 ReusedExchange), so the corpus is exploded and
# aggregated twice.  Measured at sf0.1 (min-of-3, warm JVM): recompute
# 0.67–0.95s vs persisted 1.07–1.25s — materializing the (doc_id, term,
# tf) cache costs more than the second pass at bench scale.


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, unnest({portable.tokens('text', 'duck')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tk GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df FROM tk GROUP BY term
),
n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(CAST(tf.tf AS DOUBLE) * ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {TFIDF_TOP_K}
""",
    tags=("text", "north-star", "aggregation"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic text-relevance
    pipeline as three aggregations: term frequency per (doc, term),
    document frequency per term, corpus size; idf = ln((N+1)/(df+1)).

    Scale shape: DF is derived from the TF relation (each (doc, term) row
    counts once toward the term's document frequency), so no separate
    distinct-count pass exists; the shared tf prefix is recomputed per
    consumer (the measured tradeoff documented above).  The DF relation is
    vocabulary-sized and broadcast back onto TF; top-k per doc is a
    bounded window.  Every tfidf input is an exact integer, so ln() and
    the product are bit-identical across engines; ties break on the term
    itself.
    """
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(F.expr(portable.tokens("text", "spark"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # df is vocabulary-sized (unbounded at corpus scale) — no broadcast
    # hint; AQE still picks a broadcast join at runtime whenever the
    # materialized relation is actually small.
    scored = tf.join(df, on="term").select(
        "doc_id",
        "term",
        (
            F.col("tf").cast("double")
            * F.log((F.lit(n_docs) + F.lit(1)) / (F.col("df") + F.lit(1)).cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("tfidf", F.round("tfidf", 6))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# BPE-style tokenizer training (2 unrolled merge steps)

_BPE_DUCK_STEP = """
syms{k} AS (
  SELECT f, list_filter(string_split(s, '|'), x -> x <> '') AS syms FROM {src}
),
pairs{k} AS (
  SELECT p, SUM(f)::BIGINT AS freq FROM (
    SELECT f, unnest(list_transform(range(1, len(syms)), i -> syms[i] || '|' || syms[i + 1])) AS p
    FROM syms{k}
  ) GROUP BY p
),
top{k} AS (
  SELECT p, string_split(p, '|')[1] AS a, string_split(p, '|')[2] AS b, freq
  FROM pairs{k} ORDER BY freq DESC, p ASC LIMIT 1
),
m{k} AS (
  SELECT replace({src}.s, '|' || t.a || '||' || t.b || '|', '|' || t.a || t.b || '|') AS s, f
  FROM {src} CROSS JOIN top{k} t
)
""".strip()


@register(
    "text_bpe_train_merges",
    oracle=f"""
WITH wf AS (
  SELECT w AS word, COUNT(*)::BIGINT AS f FROM (
    SELECT unnest({_DU_TOKS}) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS (
  SELECT '|' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), '||') || '|' AS s, f
  FROM wf
),
{_BPE_DUCK_STEP.format(k=1, src='s0')},
{_BPE_DUCK_STEP.format(k=2, src='m1')}
SELECT 1 AS step, a AS sym_a, b AS sym_b, freq AS pair_freq FROM top1
UNION ALL
SELECT 2 AS step, a AS sym_a, b AS sym_b, freq AS pair_freq FROM top2
""",
    tags=("text", "north-star", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first two merge rules: count adjacent
    symbol pairs over the word-frequency table, merge the most frequent
    pair corpus-wide, repeat — the iterative loop every subword
    tokenizer (BPE/WordPiece) runs over a training corpus.

    Deterministic and engine-portable by formulation: each symbol is
    individually '|'-wrapped ('|h||e||l||l||o|'), so the merge is ONE
    anchored string replace whose pattern '|a||b|' shares NO characters
    with an adjacent occurrence — left-to-right replace-all then merges
    every consecutive occurrence (e.g. 'ababab' -> 'ab ab ab'), which is
    exactly BPE's greedy merge rule.  (A single-'|' encoding would share
    the boundary anchor and merge only alternate occurrences — caught by
    tests/test_operators.py::test_bpe_consecutive_pair_merge.)  Ties pick
    the lexically smallest pair.  Everything after the word-frequency
    aggregation operates on the VOCABULARY (tiny relative to the
    corpus): the corpus is read once; each merge step is a vocab-sized
    map + one pair-count aggregation + a 1-row broadcast join.  The
    oracle unrolls both steps in CTEs.
    """
    toks = F.expr(_SP_TOKS)
    wf = (
        t(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("f"))
    )
    chars = "array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), '||')"
    rel = wf.select(F.expr(f"concat('|', {chars}, '|')").alias("s"), "f")

    tops = []
    for step in (1, 2):
        syms = F.expr("filter(split(s, '\\\\|'), x -> x <> '')")
        pairs = rel.select(
            "f",
            F.explode(
                # sequence(1, n) DESCENDS when n < 1 (single-symbol words),
                # so guard explicitly — same pitfall as portable.shingles
                F.expr(
                    "CASE WHEN size(filter(split(s, '\\\\|'), x -> x <> '')) < 2 "
                    "THEN CAST(array() AS ARRAY<STRING>) "
                    "ELSE transform(sequence(1, size(filter(split(s, '\\\\|'), x -> x <> '')) - 1), "
                    "i -> concat(element_at(filter(split(s, '\\\\|'), x -> x <> ''), i), '|', "
                    "element_at(filter(split(s, '\\\\|'), x -> x <> ''), i + 1))) END"
                )
            ).alias("p"),
        ).groupBy("p").agg(F.sum("f").alias("freq"))
        top = (
            pairs.orderBy(F.col("freq").desc(), F.col("p").asc())
            .limit(1)
            .select(
                F.expr("split(p, '\\\\|')[0]").alias("a"),
                F.expr("split(p, '\\\\|')[1]").alias("b"),
                "freq",
            )
        )
        tops.append(top.select(F.lit(step).alias("step"),
                               F.col("a").alias("sym_a"),
                               F.col("b").alias("sym_b"),
                               F.col("freq").alias("pair_freq")))
        rel = rel.crossJoin(F.broadcast(top)).select(
            F.expr(
                "replace(s, concat('|', a, '||', b, '|'), concat('|', a, b, '|'))"
            ).alias("s"),
            "f",
        )
    return tops[0].unionByName(tops[1])


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)

# character-class spellings ([.] [+]) keep the patterns literal without
# backslashes, which would be consumed differently by the SQL string
# parser (oracle side) vs the direct Java regex API (Spark side)
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PHONE_RE = "[+]1-555-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
FROM corpus
""",
    tags=("text", "north-star"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact emails and phone numbers, count hits per
    category, and fingerprint the redacted text — the standard
    pre-training privacy pass.

    PII is injected deterministically (synthetic docs carry none), so
    both engines see identical inputs; the patterns use the RE2 ∩ Java
    regex subset (character classes, bounded repeats — no backrefs), so
    regexp semantics agree engine-to-engine.  Map-only: at 100 TB this
    is a zero-shuffle pass whose throughput scales with executors; the
    md5 fingerprint keeps result rows fixed-width (bodies stay in the
    scan stage, never in the result exchange).
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    email, phone = _EMAIL_RE, _PHONE_RE
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{email}', 0)")).cast("int").alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{phone}', 0)")).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


_BIGRAMS_DUCK = portable.shingles(portable.tokens("text", "duck"), 2, "duck")


@register(
    "text_repetition_stats",
    oracle=f"""
WITH bg AS (
  SELECT doc_id, unnest({_BIGRAMS_DUCK}) AS bg FROM documents
),
cnt AS (
  SELECT doc_id, bg, COUNT(*)::BIGINT AS c FROM bg GROUP BY doc_id, bg
),
agg AS (
  SELECT doc_id, MAX(c)::BIGINT AS top_cnt, SUM(c)::BIGINT AS n_bigrams,
         COUNT(*)::BIGINT AS n_distinct
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, top_cnt, n_bigrams,
       ROUND(top_cnt / CAST(n_bigrams AS DOUBLE), 6) AS top_bigram_frac,
       ROUND(1 - n_distinct / CAST(n_bigrams AS DOUBLE), 6) AS dup_bigram_frac
FROM agg
""",
    tags=("text", "north-star", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals — the Gopher/RefinedWeb-style
    quality filters that catch boilerplate and degenerate generations:
    ``top_bigram_frac`` (share of the document's bigrams taken by its
    single most frequent bigram) and ``dup_bigram_frac`` (share of
    bigram occurrences that are repeats).

    Scale shape: map-only.  A document's bigram multiset lives entirely
    in its own row, so one Arrow kernel pass (a Counter per doc) yields
    top_cnt/n_bigrams/n_distinct with no exchange at all.  A crawl
    pipeline runs this beside token/quality stats and filters on the fractions;
    thresholds (e.g. top_bigram_frac > 0.18 per Gopher) stay user-side.
    Every input to the fractions is an exact integer, so the single
    IEEE division + round(6) is bit-identical across engines.
    """
    bigrams = _doc_grams(2)

    def gen(batches):
        from collections import Counter

        import pyarrow as pa

        for b in batches:
            top, nbg, ndis = [], [], []
            for txt in b.column(1).to_pylist():
                grams = bigrams(txt)
                c = Counter(grams)
                top.append(max(c.values()))
                nbg.append(len(grams))
                ndis.append(len(c))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(top, pa.int64()),
                    pa.array(nbg, pa.int64()),
                    pa.array(ndis, pa.int64()),
                ],
                names=["doc", "top_cnt", "n_bigrams", "n_distinct"],
            )

    # NULL texts have no bigrams, hence no row
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    agg = text_kernel(
        PART.ensure_min_partitions(docs),
        "text",
        "doc_id",
        gen,
        [(name, LongType()) for name in ("top_cnt", "n_bigrams", "n_distinct")],
    )
    return agg.select(
        F.col("doc").alias("doc_id"),
        "top_cnt",
        "n_bigrams",
        F.round(F.col("top_cnt") / F.col("n_bigrams").cast("double"), 6).alias(
            "top_bigram_frac"
        ),
        F.round(
            F.lit(1) - F.col("n_distinct") / F.col("n_bigrams").cast("double"), 6
        ).alias("dup_bigram_frac"),
    )


DECON_K = 5  # word n-gram size for the contamination check
DECON_EVAL_MOD = 19  # doc_id % 19 == 0 stands in for the benchmark set

_DECON_GRAMS_DUCK = portable.shingles(portable.tokens("text", "duck"), DECON_K, "duck")


@register(
    "text_decontaminate",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, {portable.hash60('g', 'duck')} AS gh FROM (
    SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS g FROM documents
  )
),
eval_grams AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0
),
corpus AS (
  SELECT DISTINCT doc_id, gh FROM grams WHERE doc_id % {DECON_EVAL_MOD} <> 0
),
hits AS (
  SELECT c.doc_id, COUNT(*)::BIGINT AS n_hits
  FROM corpus c JOIN eval_grams e USING (gh) GROUP BY c.doc_id
)
SELECT d.doc_id, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       (COALESCE(h.n_hits, 0) > 0)::INT AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_EVAL_MOD} <> 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
    tags=("text", "north-star", "dedup"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-word n-gram with an evaluation set (here a deterministic stand-in:
    every 19th doc) — the pre-training hygiene step that keeps eval data
    out of the training corpus.

    Scale shape: the eval side is tiny relative to the corpus, so its
    distinct n-gram hashes BROADCAST; the corpus side is one map-only
    gram-hash kernel + broadcast hash join + per-doc count — the corpus
    never shuffles its text, only 60-bit gram hashes keyed by doc.  At 100 TB
    with a real benchmark suite (a few MB of n-grams) the broadcast side
    is still tiny; collision risk of hash60 is ~2^-60 per pair, and a
    hit means "inspect", not "silently drop".
    """
    docs = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    # Each document's gram set lives in its own row, so the per-doc
    # DISTINCT happens inside the kernel; the eval filter pushes below
    # it, so the two passes together still scan each doc once.
    eval_grams = (
        gram_hash_rows_arrow(
            PART.ensure_min_partitions(docs.where(is_eval)), "text", "doc_id", DECON_K
        )
        .select("gh")
        .distinct()
    )
    corpus = gram_hash_rows_arrow(
        PART.ensure_min_partitions(docs.where(~is_eval)), "text", "doc_id", DECON_K
    ).withColumnRenamed("doc", "doc_id")
    hits = (
        corpus.join(F.broadcast(eval_grams), on="gh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    base = docs.where(~is_eval).select("doc_id")
    return base.join(hits, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, unnest({portable.tokens('text', 'duck')}) AS term FROM documents
),
vocab AS (
  SELECT term, COUNT(*)::BIGINT AS c FROM tk GROUP BY term
),
tot AS (SELECT SUM(c)::BIGINT AS s FROM vocab),
lp AS (
  SELECT term,
         CAST(floor(ln(c / CAST((SELECT s FROM tot) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS micronats
  FROM vocab
)
SELECT tk.doc_id,
       COUNT(*)::BIGINT AS n_tokens,
       SUM(lp.micronats)::BIGINT AS sum_micronats
FROM tk JOIN lp USING (term)
GROUP BY tk.doc_id
""",
    tags=("text", "north-star", "quality"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model log-probability per document — the
    CCNet-style LM quality filter: documents whose tokens are improbable
    under the corpus unigram distribution (gibberish, wrong-language,
    encoding damage) score low and get filtered or down-weighted.

    Scale shape: one corpus explode feeds both the vocabulary count and
    the scoring join; the vocabulary relation is tiny and BROADCAST back
    onto the token stream; per-doc totals are one aggregation keyed by
    doc_id.  Each token's log-prob is quantized ONCE per vocab entry to
    integer micro-nats (floor(x*1e6 + 1/2) on identical doubles — the
    repo's deterministic rounding convention), so the per-doc sums are
    exact integer arithmetic: order-independent and value-hash checkable
    despite the ln().  Consumers divide sum by count themselves
    (truncating vs floor integer division differs between engines on
    negatives, so the ratio is deliberately not materialized).
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(portable.tokens("text", "spark"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    n_total = vocab.agg(F.sum("c")).collect()[0][0]
    lp = vocab.select(
        "term",
        F.expr(
            f"CAST(floor(ln(c / CAST({n_total} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("micronats"),
    )
    # lp is vocabulary-sized (unbounded at corpus scale) — no broadcast
    # hint; the term-keyed shuffle join carries only (term, micronats)
    # pairs, and AQE still broadcasts when the relation is actually small.
    return (
        toks.join(lp, on="term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("micronats").cast("long").alias("sum_micronats"),
        )
    )


CHUNK_TOKENS = 64  # tokens per chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16


@register(
    "text_chunk_windows",
    oracle=f"""
WITH base AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks, CAST(s AS BIGINT) AS start
  FROM base, LATERAL unnest(range(1, len(toks) + 1, {CHUNK_STRIDE})) u(s)
),
chunks AS (
  SELECT doc_id,
         CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
         start,
         list_slice(toks, start, start + {CHUNK_TOKENS} - 1) AS ct
  FROM starts
)
SELECT doc_id, chunk_id,
       CAST(len(ct) AS BIGINT) AS n_tokens,
       md5(array_to_string(ct, ' ')) AS chunk_md5
FROM chunks
""",
    tags=("text", "north-star", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the tokenize-and-split step of
    a training-data pipeline: fixed-size token windows (64 tokens,
    stride 48, 16-token overlap) with a per-chunk md5 fingerprint for
    downstream chunk-level dedup.

    Map-only: `sequence` generates the window starts and `slice` cuts
    the windows inside one codegen'd projection — no shuffle, no Python,
    output size ~ n_tokens/stride per doc.  At 100 TB this is the
    pattern for exploding documents into training examples without ever
    moving the corpus: chunk rows flow straight into the next map stage
    (packing, tokenization) before any exchange.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    starts = docs.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks), {CHUNK_STRIDE})")).alias("start"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"CAST((start - 1) div {CHUNK_STRIDE} AS INT)").alias("chunk_id"),
        F.expr(f"slice(toks, start, {CHUNK_TOKENS})").alias("ct"),
    ).select(
        "doc_id",
        "chunk_id",
        F.size("ct").cast("long").alias("n_tokens"),
        F.md5(F.array_join("ct", " ")).alias("chunk_md5"),
    )


CMS_D = 4  # sketch rows (independent hash functions)
CMS_W = 256  # buckets per row
CMS_TOP = 20

_CMS_BUCKET_DUCK = (
    "(" + portable.hash60("'cms' || CAST({d} AS VARCHAR) || '|' || {tok}", "duck") + ")"
    f" % {CMS_W}"
)


@register(
    "text_cms_heavy_hitters",
    oracle=f"""
WITH toks AS (SELECT unnest({_DU_TOKS}) AS tok FROM documents),
exact AS (SELECT tok, COUNT(*)::BIGINT AS exact_n FROM toks GROUP BY tok),
occ AS (SELECT tok, d FROM toks, range(0, {CMS_D}) r(d)),
sketch AS (
  SELECT d, {_CMS_BUCKET_DUCK.format(d='d', tok='tok')} AS bucket, COUNT(*)::BIGINT AS c
  FROM occ GROUP BY 1, 2
),
top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT {CMS_TOP}),
est0 AS (
  SELECT t.tok, t.exact_n, r.d,
         {_CMS_BUCKET_DUCK.format(d='r.d', tok='t.tok')} AS bucket
  FROM top t, range(0, {CMS_D}) r(d)
),
est AS (
  SELECT e.tok, e.exact_n, MIN(s.c)::BIGINT AS cms_n
  FROM est0 e JOIN sketch s ON s.d = e.d AND s.bucket = e.bucket
  GROUP BY e.tok, e.exact_n
)
SELECT tok, exact_n, cms_n, (cms_n - exact_n)::BIGINT AS overcount FROM est
""",
    tags=("text", "sketch", "north-star"),
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: a d=4 × w=256 counter grid
    (salted portable hashes) estimates any token's frequency in O(d)
    lookups with one-sided error — the mergeable-summary primitive for
    heavy-hitter tracking when the key domain is too large to count
    exactly.

    Mergeability IS the distributed story: the sketch is a groupBy on
    (row, bucket), so partial aggregation builds per-partition sketches
    map-side and the exchange carries at most d×w = 1,024 counters per
    partition regardless of corpus size.  Output compares the CMS
    estimate against the exact count for the top-20 tokens (overcount
    >= 0 is the CMS guarantee, value-hash checked — determinism comes
    from the salted md5 hash family, not engine RNG).
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_SP_TOKS)).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    bucket = (
        "("
        + portable.hash60("concat('cms', CAST(d AS STRING), '|', tok)", "spark")
        + f") % {CMS_W}"
    )
    sketch = (
        toks.select("tok", F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("d"))
        .select("d", F.expr(bucket).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
    )
    top = exact.orderBy(F.desc("exact_n"), "tok").limit(CMS_TOP)
    est0 = top.select(
        "tok", "exact_n", F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("d")
    ).select("tok", "exact_n", "d", F.expr(bucket).alias("bucket"))
    est = (
        est0.join(F.broadcast(sketch), on=["d", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select(
        "tok", "exact_n", "cms_n", (F.col("cms_n") - F.col("exact_n")).alias("overcount")
    )


FUZZY_MAX_DIST = 2


@register(
    "text_fuzzy_part_pairs",
    oracle=f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
keys AS (
  SELECT name, k FROM names, LATERAL unnest([
    string_split(name, ' ')[1],
    string_split(name, ' ')[-1],
    substr(name, 1, 3)
  ]) u(k)
),
cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.name < b.name
  WHERE abs(len(a.name) - len(b.name)) <= {FUZZY_MAX_DIST}
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS edit_dist
FROM cand
WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
""",
    tags=("text", "join", "fuzzy"),
)
def text_fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join: distinct part names within edit distance
    {FUZZY_MAX_DIST}, found by multi-key blocking (first token, last
    token, 3-char prefix) + length banding, with exact Levenshtein
    verification on candidates only — the entity-resolution join.

    Same architecture as banded LSH dedup: blocking keys shuffle
    instead of the quadratic name space, candidate pairs form inside
    blocks, and the expensive distance runs on candidates only.
    Blocking is the recall/cost trade (a pair sharing NO key is
    missed); the oracle replays the identical blocks, so the
    approximation itself is value-hash checked.
    """
    names = t(spark, sf_dir, "part").select(F.col("p_name").alias("name")).distinct()
    keys = names.select(
        "name",
        F.explode(
            F.expr(
                "array(split(name, ' ')[0], element_at(split(name, ' '), -1), "
                "substring(name, 1, 3))"
            )
        ).alias("k"),
    )
    a = keys.select(F.col("name").alias("name_a"), "k")
    b = keys.select(F.col("name").alias("name_b"), "k")
    cand = (
        a.join(b, on="k")
        .where(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_MAX_DIST
            )
        )
        .select("name_a", "name_b")
        .distinct()
    )
    return cand.withColumn(
        "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
    ).where(F.col("edit_dist") <= FUZZY_MAX_DIST)


INVIDX_MIN_DF = 10


@register(
    "text_inverted_index",
    oracle=f"""
WITH tf AS (
  SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest({_DU_TOKS}) AS term FROM documents
  ) GROUP BY term, doc_id
),
idx AS (
  SELECT term, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS total_tf,
         md5(array_to_string(
           list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR) ORDER BY doc_id),
           ',')) AS postings_md5
  FROM tf GROUP BY term
)
SELECT term, df, total_tf, postings_md5 FROM idx WHERE df >= {INVIDX_MIN_DF}
""",
    tags=("text", "north-star", "index"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> ordered posting list (doc_id, tf) —
    the search-engine/retrieval primitive.  Postings are assembled as
    doc-ordered arrays per term and fingerprinted, so the oracle checks
    the EXACT posting order, not just the counts.

    Scale shape: one (term, doc) partial-aggregated exchange builds tf;
    one (term) exchange assembles postings.  Per-term memory is that
    term's df — the known hot spot is stopword terms, which is why real
    indexes shard giant postings; here df >= {INVIDX_MIN_DF} keeps the
    demo honest while the skew answer (hash-sharding a hot term's
    postings) is the same salting pattern as operators/partitioning.
    """
    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.expr(_SP_TOKS)).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    idx = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(doc_id, tf))), "
                    "e -> concat(CAST(e.doc_id AS STRING), ':', CAST(e.tf AS STRING)))"
                ),
                ",",
            )
        ).alias("postings_md5"),
    )
    return idx.where(F.col("df") >= INVIDX_MIN_DF).select(
        "term", "df", "total_tf", "postings_md5"
    )


@register(
    "text_langid_confusion",
    oracle=f"""
WITH tk AS (SELECT doc_id, lang, {_DU_TOKS} AS toks FROM documents),
pred AS (SELECT lang AS actual, {TXT.lang_predict('toks', 'duck')} AS predicted FROM tk),
cm AS (SELECT actual, predicted, COUNT(*)::BIGINT AS n FROM pred GROUP BY 1, 2),
tot AS (SELECT actual, SUM(n) AS t FROM cm GROUP BY actual)
SELECT c.actual, c.predicted, c.n,
       round(CAST(c.n AS DOUBLE) / o.t, 6) AS row_frac
FROM cm c JOIN tot o ON c.actual = o.actual
""",
    tags=("text", "north-star", "evaluation"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the language-ID
    heuristic: actual label × predicted label with row-normalized
    fractions — the model-eval aggregation every labeling pipeline
    needs (per-class precision/recall fall straight out of this
    relation).

    Map-side prediction, |langs|² aggregate, broadcast row totals.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    pred = docs.select(
        F.col("lang").alias("actual"),
        F.expr(TXT.lang_predict("toks", "spark")).alias("predicted"),
    )
    cm = pred.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    tot = cm.groupBy("actual").agg(F.sum("n").alias("t"))
    return cm.join(F.broadcast(tot), on="actual").select(
        "actual",
        "predicted",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("row_frac"),
    )


@register(
    "text_chunk_dedup",
    oracle=f"""
WITH base AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks, CAST(s AS BIGINT) AS start
  FROM base, LATERAL unnest(range(1, len(toks) + 1, {CHUNK_STRIDE})) u(s)
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, start, start + {CHUNK_TOKENS} - 1), ' ')) AS chunk_md5
  FROM starts
)
SELECT chunk_md5,
       COUNT(*)::BIGINT AS n_occurrences,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       MIN(doc_id) AS keep_doc
FROM chunks
GROUP BY chunk_md5
HAVING COUNT(DISTINCT doc_id) > 1
""",
    tags=("text", "north-star", "dedup"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (chunk-level) dedup: the same sliding windows as
    text_chunk_windows, deduplicated ACROSS documents by fingerprint —
    finds boilerplate passages that repeat in multiple documents even
    when the documents as wholes are unique (the CCNet/RefinedWeb
    paragraph-dedup step that document-level MinHash cannot express).

    Composes chunking (map-only explode) with exact dedup (32-byte
    digests shuffle, never chunk text); output is the repeated-chunk
    relation a cleaning pass would anti-join against.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    chunks = docs.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(toks), {CHUNK_STRIDE})")).alias("start"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.array_join(F.expr(f"slice(toks, start, {CHUNK_TOKENS})"), " ")
        ).alias("chunk_md5"),
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


PMI_TOP = 20


# The (doc_id, gram) explode feeds the bigram counts AND the scoring
# join, and Spark recomputes the subtree per consumer (3 corpus scans —
# same no-ReusedExchange behavior as TF-IDF, measured in PLANS.md).
# Persisting it won only while the exploded relation fit storage memory
# and lost once it spilled (SCALING.md, "Bigram-LM persist crossover"),
# so the registered query recomputes: correct at any scale, degrading
# gracefully instead of paying spill round-trips on top of the explode.


@register(
    "text_bigram_logprob",
    oracle=f"""
WITH base AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
db AS (
  SELECT doc_id, g AS gram
  FROM base, LATERAL unnest({portable.shingles('toks', 2, 'duck')}) u(g)
  WHERE len(string_split(g, ' ')) = 2
),
bi AS (SELECT gram, COUNT(*)::BIGINT AS n_ab FROM db GROUP BY gram),
ctx AS (
  SELECT string_split(gram, ' ')[1] AS w1, SUM(n_ab)::BIGINT AS n_ctx
  FROM bi GROUP BY w1
),
lp AS (
  SELECT gram,
         CAST(floor(ln(CAST(n_ab AS DOUBLE) / CAST(n_ctx AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS micronats
  FROM bi JOIN ctx ON string_split(bi.gram, ' ')[1] = ctx.w1
)
SELECT db.doc_id,
       COUNT(*)::BIGINT AS n_bigrams,
       SUM(lp.micronats)::BIGINT AS sum_micronats
FROM db JOIN lp USING (gram)
GROUP BY db.doc_id
""",
    tags=("text", "north-star", "quality"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model log-probability per document — the next rung
    above :func:`text_unigram_logprob` on the CCNet-style quality ladder:
    score each document by sum(ln p(w_i | w_{i-1})) under the corpus
    bigram MLE.  Word salad with plausible unigrams but improbable
    transitions (shuffled text, boilerplate stitching) scores low here
    while passing the unigram filter.

    No smoothing is needed: every document bigram is, by construction,
    present in the corpus counts, so p(w2|w1) = C(w1 w2) / C(w1 ·) > 0.

    Scale shape: one corpus explode feeds the bigram counts; the context
    totals derive from the (already aggregated) bigram relation, not a
    second corpus pass.  Unlike the unigram vocabulary, the bigram
    relation is corpus-vocabulary-sized — potentially too large to
    broadcast at 100 TB — so the scoring join is a plain shuffle join on
    `gram` and AQE picks the strategy per actual size.  Per-bigram
    log-probs are quantized ONCE per vocab entry to integer micro-nats
    (floor(x*1e6 + 1/2) on identical doubles), so per-doc sums are exact
    integer arithmetic: order-independent and value-hash checkable.

    Ref parity: the reference's combiner discipline (one comparator per
    job, src/Merger/CompareFunc.cc:95-113) maps to one quantization per
    derived value shared by engine and oracle.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    db = docs.select(
        "doc_id",
        F.explode(F.expr(portable.shingles("toks", 2, "spark"))).alias("gram"),
    ).where(F.size(F.split("gram", " ")) == 2)
    bi = db.groupBy("gram").agg(F.count("*").alias("n_ab"))
    ctx = (
        bi.withColumn("w1", F.expr("split(gram, ' ')[0]"))
        .groupBy("w1")
        .agg(F.sum("n_ab").alias("n_ctx"))
    )
    lp = (
        bi.withColumn("w1", F.expr("split(gram, ' ')[0]"))
        .join(ctx, on="w1")
        .select(
            "gram",
            F.expr(
                "CAST(floor(ln(CAST(n_ab AS DOUBLE) / CAST(n_ctx AS DOUBLE))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("micronats"),
        )
    )
    return (
        db.join(lp, on="gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("micronats").cast("long").alias("sum_micronats"),
        )
    )


HASHING_BUCKETS = 64


@register(
    "text_hashing_features",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, unnest({portable.tokens('text', 'duck')}) AS term FROM documents
)
SELECT doc_id,
       CAST({portable.hash60('term', 'duck')} % {HASHING_BUCKETS} AS INT) AS bucket,
       COUNT(*)::BIGINT AS tf
FROM tk
GROUP BY doc_id, bucket
""",
    tags=("text", "north-star", "features"),
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): project each document's
    term-frequency vector into a fixed ``HASHING_BUCKETS``-wide space by
    hashing terms — the standard way to featurize unbounded vocabularies
    for linear classifiers / quality models without a vocabulary build or
    a dictionary broadcast.

    Scale shape: map-side explode + bucket assignment, then ONE exchange
    keyed (doc_id, bucket) — no vocabulary relation exists at all, which
    is the trick's entire point at 100 TB (no second pass, no broadcast,
    no OOV handling).  Bucket ids come from the engine-portable
    ``hash60 % buckets`` so both engines bin identically.
    """
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_SP_TOKS)).alias("term")
    )
    return (
        toks.select(
            "doc_id",
            (F.expr(portable.hash60("term", "spark")) % HASHING_BUCKETS)
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("long").alias("tf"))
    )


@register(
    "text_pmi_bigrams",
    oracle=f"""
WITH toks AS (SELECT {_DU_TOKS} AS toks FROM documents),
uni AS (
  SELECT t AS term, COUNT(*)::BIGINT AS n
  FROM toks, LATERAL unnest(toks) u(t) GROUP BY t
),
nn AS (SELECT SUM(n)::BIGINT AS total FROM uni),
bi AS (
  SELECT g AS gram, COUNT(*)::BIGINT AS n_ab
  FROM (SELECT {portable.shingles('toks', 2, 'duck')} AS grams FROM toks),
       LATERAL unnest(grams) u(g)
  WHERE len(string_split(g, ' ')) = 2
  GROUP BY g
),
top AS (
  SELECT gram, n_ab FROM bi ORDER BY n_ab DESC, gram LIMIT {PMI_TOP}
)
SELECT t.gram, t.n_ab, a.n AS n_a, b.n AS n_b,
       round(log2(CAST(t.n_ab AS DOUBLE) * (SELECT total FROM nn) / (a.n * b.n)), 6)
         AS pmi_bits
FROM top t
JOIN uni a ON a.term = string_split(t.gram, ' ')[1]
JOIN uni b ON b.term = string_split(t.gram, ' ')[2]
""",
    tags=("text", "north-star", "collocation"),
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of the most
    frequent adjacent token pairs — the phrase-detection primitive
    (high-PMI bigrams become single tokens in a phrase-aware
    vocabulary).

    All counts are exact integers from two explode+agg passes (unigrams,
    bigrams); PMI is one deterministic log per surviving row.  The
    single-token whole-doc "shingles" short docs emit are filtered out
    identically in both engines.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    uni = (
        docs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    nn = uni.agg(F.sum("n").alias("total"))
    bi = (
        docs.select(
            F.explode(F.expr(portable.shingles("toks", 2, "spark"))).alias("gram")
        )
        .where(F.size(F.split("gram", " ")) == 2)
        .groupBy("gram")
        .agg(F.count("*").alias("n_ab"))
    )
    top = bi.orderBy(F.desc("n_ab"), "gram").limit(PMI_TOP)
    a = uni.select(F.col("term").alias("ta"), F.col("n").alias("n_a"))
    b = uni.select(F.col("term").alias("tb"), F.col("n").alias("n_b"))
    joined = (
        top.withColumn("ta", F.expr("split(gram, ' ')[0]"))
        .withColumn("tb", F.expr("split(gram, ' ')[1]"))
        # a/b are vocabulary-sized (unbounded at corpus scale) — no
        # broadcast hints on them; the bounded PMI_TOP side is what AQE
        # broadcasts at runtime.
        .join(a, on="ta")
        .join(b, on="tb")
        .crossJoin(F.broadcast(nn))
    )
    return joined.select(
        "gram",
        "n_ab",
        "n_a",
        "n_b",
        F.round(
            F.log2(F.col("n_ab").cast("double") * F.col("total") / (F.col("n_a") * F.col("n_b"))),
            6,
        ).alias("pmi_bits"),
    )


@register(
    "text_novelty_score",
    oracle=f"""
WITH base AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
ds AS (
  SELECT DISTINCT doc_id, g AS s
  FROM base, LATERAL unnest({portable.shingles('toks', 3, 'duck')}) u(g)
),
df AS (SELECT s, COUNT(*)::BIGINT AS df FROM ds GROUP BY s)
SELECT ds.doc_id,
       COUNT(*)::BIGINT AS n_shingles,
       SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS novelty_ppm
FROM ds JOIN df USING (s)
GROUP BY ds.doc_id
""",
    tags=("text", "north-star", "quality"),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-token shingles that occur in NO other document — the
    boilerplate/originality signal (templated pages score near zero,
    original prose near one) that complements near-dup detection:
    dedup removes copies, novelty DOWN-WEIGHTS the heavily-shared
    residue dedup keeps.

    Distinct-per-doc shingles make shingle document-frequency a plain
    COUNT(*) (each doc contributes a shingle once), so the whole score
    is two aggregations and a join on the shingle key — exact integer
    arithmetic end to end, ppm via integer division.

    Scale shape: explode + per-doc distinct (map-side via
    array_distinct before the explode), one exchange for the df
    aggregate, one shuffle join keyed on shingle (vocabulary-scale at
    100 TB — not broadcast), one exchange for the per-doc rollup.  No
    document bodies shuffle — only (doc_id, shingle-hash-sized) rows.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    ds = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(portable.shingles("toks", 3, "spark")))
        ).alias("s"),
    )
    df = ds.groupBy("s").agg(F.count("*").alias("df"))
    novel = F.when(F.col("df") == 1, 1).otherwise(0)
    return (
        ds.join(df, on="s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.expr(
                "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000 div count(*) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# Multi-category term blocklist (round 6).  Tiny here; the pattern —
# exploded tokens equi-joined to a BROADCAST term->category relation,
# never a per-term CASE chain — is the one that scales to the
# thousands-of-terms lists real quality filters use.
BLOCKLIST = (
    ("slow", "severe"),
    ("big", "mild"),
    ("small", "mild"),
)
BLOCKLIST_MILD_MAX = 3  # > this many mild hits drops the doc

_BL_DU_VALUES = ", ".join(f"('{t}', '{c}')" for t, c in BLOCKLIST)


@register(
    "text_blocklist_filter",
    oracle=f"""
WITH bl AS (SELECT * FROM (VALUES {_BL_DU_VALUES}) v(term, category)),
tk AS (SELECT doc_id, unnest({_DU_TOKS}) AS tok FROM documents),
hits AS (
  SELECT tk.doc_id,
         SUM(CASE WHEN bl.category = 'severe' THEN 1 ELSE 0 END)::BIGINT AS severe_hits,
         SUM(CASE WHEN bl.category = 'mild' THEN 1 ELSE 0 END)::BIGINT AS mild_hits
  FROM tk JOIN bl ON tk.tok = bl.term GROUP BY tk.doc_id
),
flagged AS (
  SELECT d.source, d.doc_id,
         COALESCE(h.severe_hits, 0) AS severe_hits,
         COALESCE(h.mild_hits, 0) AS mild_hits,
         CASE WHEN COALESCE(h.severe_hits, 0) > 0
                OR COALESCE(h.mild_hits, 0) > {BLOCKLIST_MILD_MAX}
              THEN 1 ELSE 0 END AS dropped
  FROM documents d LEFT JOIN hits h USING (doc_id)
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN severe_hits + mild_hits > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       SUM(dropped)::BIGINT AS n_dropped,
       SUM(severe_hits)::BIGINT AS severe_hits,
       SUM(mild_hits)::BIGINT AS mild_hits,
       CAST(SUM(CASE WHEN dropped = 1 THEN doc_id % 1000003 ELSE 0 END) AS BIGINT)
         AS dropped_checksum
FROM flagged GROUP BY source
""",
    tags=("text", "north-star", "quality"),
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-based quality filtering: per-source report of documents
    flagged and dropped by a categorized term blocklist (any 'severe'
    hit drops; more than BLOCKLIST_MILD_MAX 'mild' hits drops) — the
    keyword-filter stage every pretraining corpus pipeline runs, with
    the drop set pinned by a checksum so the FILTER decision itself is
    value-hash checked, not just the counts.

    Scale shape: exploded tokens equi-join the broadcast blocklist (at
    real list sizes this stays a broadcast hash join — a term list is
    KBs — and never a per-term CASE chain the optimizer can't prune);
    per-doc hit totals are one partial-agg exchange keyed doc_id; the
    left join back to the corpus catches zero-hit docs; the per-source
    rollup is tiny.  The corpus blob column is never touched
    (ReadSchema: doc_id, source, text).
    """
    bl = spark.createDataFrame(list(BLOCKLIST), "term string, category string")
    docs = t(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(F.expr(_SP_TOKS)).alias("tok"))
    hits = (
        tk.join(F.broadcast(bl), tk["tok"] == bl["term"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("category") == "severe", 1).otherwise(0))
            .cast("long")
            .alias("severe_hits"),
            F.sum(F.when(F.col("category") == "mild", 1).otherwise(0))
            .cast("long")
            .alias("mild_hits"),
        )
    )
    flagged = docs.select("source", "doc_id").join(hits, on="doc_id", how="left").select(
        "source",
        "doc_id",
        F.coalesce("severe_hits", F.lit(0)).alias("severe_hits"),
        F.coalesce("mild_hits", F.lit(0)).alias("mild_hits"),
    ).withColumn(
        "dropped",
        F.when(
            (F.col("severe_hits") > 0) | (F.col("mild_hits") > BLOCKLIST_MILD_MAX), 1
        ).otherwise(0),
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("severe_hits") + F.col("mild_hits") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum("dropped").cast("long").alias("n_dropped"),
        F.sum("severe_hits").cast("long").alias("severe_hits"),
        F.sum("mild_hits").cast("long").alias("mild_hits"),
        F.sum(F.when(F.col("dropped") == 1, F.col("doc_id") % 1000003).otherwise(0))
        .cast("long")
        .alias("dropped_checksum"),
    )


@register(
    "text_source_drift_tvd",
    oracle=f"""
WITH tk AS (SELECT source, unnest({_DU_TOKS}) AS tok FROM documents),
st AS (SELECT source, tok, COUNT(*)::BIGINT AS n_st FROM tk GROUP BY source, tok),
s AS (SELECT source, SUM(n_st)::BIGINT AS n_s FROM st GROUP BY source),
tt AS (SELECT tok, SUM(n_st)::BIGINT AS n_t FROM st GROUP BY tok),
n AS (SELECT SUM(n_t)::BIGINT AS total FROM tt),
obs AS (
  SELECT st.source,
         COUNT(*)::BIGINT AS n_terms,
         SUM(abs(st.n_st * (SELECT total FROM n) - s.n_s * tt.n_t))::BIGINT
           AS obs_diff,
         SUM(tt.n_t)::BIGINT AS obs_mass
  FROM st JOIN s USING (source) JOIN tt USING (tok)
  GROUP BY st.source
)
SELECT s.source, s.n_s AS n_tokens, o.n_terms,
       CAST(floor(
         (o.obs_diff + s.n_s * ((SELECT total FROM n) - o.obs_mass))
         * 500000.0 / (s.n_s * (SELECT total FROM n)) + 0.5
       ) AS BIGINT) AS tvd_ppm
FROM s JOIN obs o USING (source)
""",
    tags=("text", "quality", "north-star", "drift"),
)
def text_source_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: total-variation distance between each
    source's token distribution and the whole-corpus distribution —
    the outlier-domain / crawl-drift detector run before a new source
    is admitted to the mixture (a source whose unigram profile sits far
    from the corpus is template spam, another language, or broken
    extraction).

    TVD = ½ Σ_t |p_s(t) − p(t)| is computed WITHOUT materializing the
    (sources × vocabulary) cross: the unobserved-term mass is recovered
    algebraically as ``n_s · (N − Σ_{{t∈obs(s)}} n_t)`` since missing
    terms contribute exactly their corpus probability.  Everything is
    exact BIGINT until one final deterministic double division per
    source (at petabyte token counts the |n_st·N| products need a
    DECIMAL(38,0) rescale — same bit-budget discipline as zorder's key
    guard).

    Scale shape: one (source, tok) partial-agg exchange over the
    exploded corpus; the per-source and per-term rollups derive from
    that aggregate (vocabulary-sized, broadcast back); no pass touches
    the corpus twice.
    """
    tk = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(_SP_TOKS)).alias("tok")
    )
    st = tk.groupBy("source", "tok").agg(F.count("*").alias("n_st"))
    st = tracked_persist(st)
    s = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    tt = st.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    total = int(tt.agg(F.sum("n_t")).collect()[0][0])
    # tt is the per-term corpus-count relation — vocabulary-sized and
    # unbounded, so it must NOT be broadcast (at 100 TB it OOMs the
    # executors); st is already partially aggregated on tok, so the
    # tok-keyed join shuffles only (source, tok, count) triples.  Only
    # the bounded per-source relation s gets the hint.  (The same fix
    # as text_js_divergence_sources, round-8 ADVICE.)
    obs = (
        st.join(F.broadcast(s), on="source")
        .join(tt, on="tok")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(F.abs(F.col("n_st") * total - F.col("n_s") * F.col("n_t")))
            .cast("long")
            .alias("obs_diff"),
            F.sum("n_t").cast("long").alias("obs_mass"),
        )
    )
    return s.join(obs, on="source").select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        "n_terms",
        F.floor(
            (F.col("obs_diff") + F.col("n_s") * (total - F.col("obs_mass")))
            * 500000.0
            / (F.col("n_s") * total)
            + 0.5
        )
        .cast("long")
        .alias("tvd_ppm"),
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval

BM25_QUERY_TERMS = ("join", "hash", "vector", "spark")
BM25_TOP_K = 20


def _bm25_term_score(i: int) -> str:
    """Per-term BM25 score expression — the SAME text in both dialects
    (only shared ANSI functions: ln/CASE/CAST), so every double op runs
    in the identical IEEE order and the scores are bit-equal.

    Lucene-floored idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — written as
    the integer-doubled ratio (2(N-df)+1)/(2df+1) so no fractional
    literal is ever parsed (Spark reads `0.5` as DECIMAL, DuckDB as
    DOUBLE — same value here, but the doubled form removes the decimal
    arithmetic entirely).  Saturation with k1=1.2, b=0.75 is likewise
    cleared of fractional literals by scaling numerator and denominator
    by 10: tf·(k1+1)/(tf + k1·dlnorm) = 22·tf / (10·tf + 12·dlnorm),
    dlnorm = 1/4 + 3/4·dl·N/L (exact binary 0.25/0.75 from integer
    division).
    """
    return (
        f"CASE WHEN tf{i} > 0 THEN "
        f"ln(CAST(1 AS DOUBLE) + (2 * (n_docs - df{i}) + 1) / CAST(2 * df{i} + 1 AS DOUBLE))"
        f" * (22 * tf{i})"
        f" / (10 * tf{i} + 12 * (CAST(1 AS DOUBLE) / 4"
        f" + CAST(3 AS DOUBLE) / 4 * dl * n_docs / corpus_len))"
        f" ELSE CAST(0 AS DOUBLE) END"
    )


_BM25_TOTAL = " + ".join(f"({_bm25_term_score(i)})" for i in range(len(BM25_QUERY_TERMS)))

_BM25_DUCK_TF = ",\n         ".join(
    f"len(list_filter(toks, x -> x = '{term}'))::BIGINT AS tf{i}"
    for i, term in enumerate(BM25_QUERY_TERMS)
)
_BM25_DUCK_DF = ",\n         ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
    for i in range(len(BM25_QUERY_TERMS))
)


@register(
    "text_bm25_topk",
    oracle=f"""
WITH d AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
per AS (
  SELECT doc_id, len(toks)::BIGINT AS dl,
         {_BM25_DUCK_TF}
  FROM d
),
tot AS (
  SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS corpus_len,
         {_BM25_DUCK_DF}
  FROM per
)
SELECT doc_id, dl, ROUND({_BM25_TOTAL}, 6) AS bm25
FROM per CROSS JOIN tot
WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_QUERY_TERMS)))} > 0
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}
""",
    tags=("text", "retrieval", "north-star"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-20 documents for a fixed
    multi-term query (Lucene-floored idf, k1=1.2, b=0.75) — the lexical
    half of a hybrid retriever (sim_hybrid_rrf fuses this family with
    the dense ANN side).

    Exactness: every BM25 input (tf, df, dl, N, L) is an exact integer;
    the float formula is the same expression TEXT in both engines (see
    :func:`_bm25_term_score`), so the doubles agree bitwise.  The
    per-term scores are added in a FIXED textual order (never a float
    SUM() whose accumulation order is partition-dependent), and ties
    break on doc_id.

    Scale shape: tf for the (few) query terms is computed per document
    with map-side ``size(filter(toks, ...))`` — the corpus is NEVER
    exploded and never shuffled.  One bounded aggregation produces
    (N, L, df_i) as a single broadcast row; scoring is a second map-only
    pass over matching docs, finished by TakeOrderedAndProject.  Two
    corpus scans total, zero wide exchanges at any scale — strictly
    cheaper than the inverted-index formulation whenever the query is
    small (the index pays an explode + doc_id shuffle first).
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SP_TOKS).alias("toks")
    )
    per = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.expr(f"size(filter(toks, x -> x = '{term}'))")
            .cast("long")
            .alias(f"tf{i}")
            for i, term in enumerate(BM25_QUERY_TERMS)
        ],
    )
    tot = per.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("corpus_len"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long").alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    match = " + ".join(f"tf{i}" for i in range(len(BM25_QUERY_TERMS)))
    return (
        per.crossJoin(F.broadcast(tot))
        .where(F.expr(f"{match} > 0"))
        .select("doc_id", "dl", F.expr(f"ROUND({_BM25_TOTAL}, 6)").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-document token counts


@register(
    "text_gini_tokens",
    oracle=f"""
WITH y AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, {_DU_TOKS} AS toks FROM documents)
),
ranked AS (
  SELECT n_tokens, ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rnk FROM y
),
s AS (
  SELECT COUNT(*)::HUGEINT AS n, SUM(n_tokens)::HUGEINT AS tot,
         SUM(rnk::HUGEINT * n_tokens)::HUGEINT AS ry
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(tot AS BIGINT) AS total_tokens,
       CAST((2 * ry - (n + 1) * tot) * 1000000 // NULLIF(n * tot, 0) AS BIGINT)
         AS gini_ppm
FROM s
""",
    tags=("text", "statistics", "quality", "north-star"),
)
def text_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document token counts — the corpus
    concentration readout: 0 means every document carries equal token
    mass, →1 means a handful of giant documents dominate the training
    mixture (a skew that sequence packing and per-shard budgets must
    know about before any sampling decision).

    Exactness: the sample Gini G = (2·Σ i·y_(i) − (n+1)·Σy) / (n·Σy)
    over ascending-sorted counts is a pure integer rational; ties are
    order-independent in Σ i·y (equal y values contribute the same under
    any permutation of their ranks), so the (y, doc_id) tiebreak only
    pins determinism, not the value.  Chebyshev's sum inequality makes
    the numerator non-negative, so truncation needs no sign handling.
    Products ride DECIMAL(38,0)/HUGEINT (rank·y ≈ 1e14 at a billion
    docs; the sum ≈ 1e24).

    Scale shape: one map-only pass computes each document's token count
    (no explode — `size(tokens)` on the token array); the ascending rank
    is the two-pass range-partitioned :func:`global_rank`, and the
    final three sums are one bounded aggregation.  Never a
    single-partition ORDER BY window over doc-cardinality counts.
    """
    from uda_spark.operators.sort import global_rank

    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    y = docs.select(
        "doc_id",
        F.expr(TXT.token_count("toks", "spark")).cast("long").alias("n_tokens"),
    )
    ranked = global_rank(y, ["n_tokens", "doc_id"], alias="rnk")
    return ranked.agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr("SUM(CAST(n_tokens AS DECIMAL(38,0)))").alias("tot"),
        F.expr("SUM(CAST(rnk AS DECIMAL(38,0)) * n_tokens)").alias("ry"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(tot AS BIGINT) AS total_tokens",
        "CAST((2 * ry - (n + 1) * tot) * 1000000 div NULLIF(n * tot, 0) AS BIGINT)"
        " AS gini_ppm",
    )


# ---------------------------------------------------------------------------
# Lorenz curve (decile token shares) — Gini's per-decile companion

LORENZ_BUCKETS = 10


@register(
    "pipeline_lorenz_deciles",
    oracle=f"""
WITH y AS (
  SELECT doc_id, CAST(len({_DU_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
nt AS (
  SELECT n_tokens,
         NTILE({LORENZ_BUCKETS}) OVER (ORDER BY n_tokens, doc_id) AS decile
  FROM y
),
d AS (
  SELECT decile, COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::HUGEINT AS toks
  FROM nt GROUP BY decile
),
tot AS (SELECT SUM(toks) AS total FROM d)
SELECT CAST(d.decile AS INT) AS decile, d.n_docs,
       CAST(d.toks AS BIGINT) AS n_tokens,
       CAST(d.toks * 1000000 // tot.total AS BIGINT) AS share_ppm,
       CAST(SUM(d.toks) OVER (ORDER BY d.decile) * 1000000 // tot.total AS BIGINT)
         AS cum_share_ppm
FROM d, tot ORDER BY decile
""",
    tags=("pipeline", "text", "statistics", "north-star"),
)
def pipeline_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of token mass across documents, at decile grain —
    the per-bucket companion to :func:`text_gini_tokens`: sort documents
    by token count ascending, cut into 10 equal-count buckets, and
    report each bucket's token share and the cumulative share — the
    readout that says "the bottom 50% of documents carry X% of tokens",
    which drives shard sizing and sequence-packing budgets directly.

    Exactness: bucketing is :func:`uda_spark.operators.sort.global_ntile`
    — exact Window-NTILE semantics (first total%10 buckets one row
    larger) property-tested against the naive window — and every share
    is an integer ppm over exact token sums in DECIMAL(38,0)/HUGEINT.

    Scale shape: one map-only pass to per-doc counts (no explode), the
    two-pass range-partitioned rank inside global_ntile, one bounded
    10-row aggregate; the cumulative window runs on those 10 rows.
    """
    from uda_spark.operators.sort import global_ntile

    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(_SP_TOKS))
    y = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
    )
    nt = global_ntile(y, ["n_tokens", "doc_id"], LORENZ_BUCKETS, alias="decile")
    d = nt.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("SUM(CAST(n_tokens AS DECIMAL(38,0)))").alias("toks"),
    )
    tot = d.agg(F.sum("toks").alias("total"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(tot))
        .withColumn("cum_toks", F.sum("toks").over(w))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            F.col("toks").cast("long").alias("n_tokens"),
            F.expr("CAST(toks * 1000000 div total AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(cum_toks * 1000000 div total AS BIGINT)").alias(
                "cum_share_ppm"
            ),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Duplicated n-gram coverage: corpus boilerplate mass

DUPGRAM_K = 5

_DUPGRAM_DU = portable.shingles("toks", DUPGRAM_K, "duck")
_DUPGRAM_H_DU = portable.hash60("g", "duck")


@register(
    "text_dup_ngram_coverage",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_DU_TOKS} AS toks FROM documents),
occ AS (
  SELECT doc_id, {_DUPGRAM_H_DU} AS gh
  FROM (SELECT doc_id, unnest({_DUPGRAM_DU}) AS g FROM toks)
),
per AS (
  SELECT gh, doc_id, COUNT(*)::BIGINT AS c FROM occ GROUP BY 1, 2
),
g AS (
  SELECT gh, SUM(c)::BIGINT AS total_occ, COUNT(*)::BIGINT AS n_docs
  FROM per GROUP BY gh
)
SELECT COUNT(*)::BIGINT AS n_grams,
       SUM(total_occ)::BIGINT AS total_occurrences,
       SUM(CASE WHEN n_docs >= 2 THEN total_occ ELSE 0 END)::BIGINT AS dup_occurrences,
       SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_crossdoc_grams,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN total_occ ELSE 0 END) * 1000000
            // SUM(total_occ) AS BIGINT) AS dup_ppm
FROM g
""",
    tags=("text", "dedup", "quality", "north-star"),
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated {DUPGRAM_K}-gram coverage of the corpus — the share of
    all {DUPGRAM_K}-gram occurrences whose gram appears in MORE THAN ONE
    document: the boilerplate/template-mass audit (RefinedWeb-style)
    that says how much of the token stream is cross-document repetition
    BEFORE any dedup decision; text_repetition_stats measures
    within-doc repetition, this measures across-doc.

    Exactness: grams ride the 60-bit portable hash (collision odds
    negligible at corpus scale and IDENTICAL in both engines, so the
    readout still value-hash matches); all counts and the final ppm are
    exact integers.

    Scale shape: one map-only kernel pass turns each document into its
    (gram hash, count) rows (no gram strings ever shuffle — 8-byte
    hashes), one exchange on gh, then a single bounded row.
    """
    # the (gh, doc) count is per-document, so it happens inside the
    # kernel; only the (gh -> total_occ, n_docs) rollup shuffles
    per = gram_hash_rows_arrow(
        PART.ensure_min_partitions(t(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        DUPGRAM_K,
        counts=True,
    )
    g = per.groupBy("gh").agg(
        F.sum("c").alias("total_occ"), F.count("*").alias("n_docs")
    )
    return g.agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("total_occ").cast("long").alias("total_occurrences"),
        F.sum(F.when(F.col("n_docs") >= 2, F.col("total_occ")).otherwise(0))
        .cast("long")
        .alias("dup_occurrences"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_crossdoc_grams"),
        F.expr(
            "CAST(SUM(CASE WHEN n_docs >= 2 THEN total_occ ELSE 0 END) * 1000000"
            " div SUM(total_occ) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Lexical diversity (type-token ratio) per source


@register(
    "text_ttr_by_source",
    oracle=f"""
WITH tk AS (
  SELECT source, unnest({_DU_TOKS}) AS term FROM documents
),
per AS (
  SELECT source, term, COUNT(*)::BIGINT AS c FROM tk GROUP BY 1, 2
)
SELECT source,
       COUNT(*)::BIGINT AS n_types,
       SUM(c)::BIGINT AS n_tokens,
       CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS hapax_ppm
FROM per GROUP BY source
""",
    tags=("text", "quality", "north-star"),
)
def text_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio (distinct terms /
    total terms) and the hapax-legomenon share (terms occurring exactly
    once) — the vocabulary-richness screen next to the quality score:
    template spam and boilerplate collapse TTR, OCR noise and
    concatenated garbage inflate hapax share; both move BEFORE average
    quality does.

    Exactness: both ratios are integer ppm over exact counts.

    Scale shape: one explode of the corpus into (source, term), one
    partial-agg exchange on that pair (the same shape as the drift-TVD
    rollup), then a bounded per-source aggregate — the vocabulary-sized
    intermediate never routes through a single task and no second
    corpus pass exists.
    """
    tk = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(_SP_TOKS)).alias("term")
    )
    per = tk.groupBy("source", "term").agg(F.count("*").alias("c"))
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.expr("CAST(COUNT(*) * 1000000 div SUM(c) AS BIGINT)").alias("ttr_ppm"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.expr(
            "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence per source (info-theoretic drift)

# Per-term JS contribution in micro-nats — the same expression TEXT in
# both dialects over exact-integer columns (n_st, n_s, n_t, total), so
# the doubles agree bitwise; rounding PER TERM makes the per-source SUM
# an order-independent integer sum.
_JS_TERM = (
    "CAST(ROUND(((n_st / CAST(n_s AS DOUBLE))"
    " * ln((n_st / CAST(n_s AS DOUBLE))"
    " / ((n_st / CAST(n_s AS DOUBLE) + n_t / CAST(total AS DOUBLE)) / 2))"
    " + (n_t / CAST(total AS DOUBLE))"
    " * ln((n_t / CAST(total AS DOUBLE))"
    " / ((n_st / CAST(n_s AS DOUBLE) + n_t / CAST(total AS DOUBLE)) / 2)))"
    " / 2 * 1000000, 0) AS BIGINT)"
)
# Unobserved corpus mass: for terms absent from the source, m = p/2, so
# the KL(p||m) side contributes exactly p·ln(2)/2 — recovered in closed
# form from (total − obs_mass), one rounding per source.
_JS_UNOBS = (
    "CAST(ROUND(ln(CAST(2 AS DOUBLE)) / 2"
    " * ((total - obs_mass) / CAST(total AS DOUBLE)) * 1000000, 0) AS BIGINT)"
)


@register(
    "text_js_divergence_sources",
    oracle=f"""
WITH st AS (
  SELECT source, tok, COUNT(*)::BIGINT AS n_st
  FROM (SELECT source, unnest({_DU_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
s AS (SELECT source, SUM(n_st)::BIGINT AS n_s FROM st GROUP BY source),
tt AS (SELECT tok, SUM(n_st)::BIGINT AS n_t FROM st GROUP BY tok),
n AS (SELECT SUM(n_t)::BIGINT AS total FROM tt),
obs AS (
  SELECT st.source,
         SUM({_JS_TERM})::BIGINT AS js_obs,
         SUM(tt.n_t)::BIGINT AS obs_mass,
         COUNT(*)::BIGINT AS n_terms
  FROM st JOIN s USING (source) JOIN tt USING (tok) CROSS JOIN n
  GROUP BY st.source
)
SELECT obs.source, s.n_s AS n_tokens, obs.n_terms,
       CAST(obs.js_obs + {_JS_UNOBS} AS BIGINT) AS js_micronats
FROM obs JOIN s USING (source) CROSS JOIN n
""",
    tags=("text", "quality", "statistics", "north-star"),
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token
    distribution and the whole-corpus distribution — the
    information-theoretic drift screen next to text_source_drift_tvd's
    L1 view (JS is smoother: it weighs WHERE the distributions disagree,
    not just how much mass moved, and is bounded by ln 2 ≈ 693147
    micro-nats).

    Exactness: each observed term's contribution is a deterministic
    double from exact integers, rounded to micro-nats PER TERM so the
    per-source sum is an order-independent integer SUM; the unobserved
    corpus mass contributes exactly p·ln(2)/2 (for absent terms the
    mixture m is p/2), recovered in closed form from the observed-mass
    complement — no (sources × vocabulary) cross ever materializes.

    Scale shape: identical to the TVD query — one (source, tok)
    partial-agg exchange over the exploded corpus; the BOUNDED rollups
    (per-source totals ``s``, the 1-row grand total ``n``) broadcast
    back, while the vocabulary-sized per-term totals ``tt`` join on
    ``tok`` as a shuffle (``st`` is already partially aggregated on the
    same key) — ``tt`` is unbounded at corpus scale and must never be a
    broadcast.  Bounded per-source output, no second corpus pass.
    """
    tk = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(_SP_TOKS)).alias("tok")
    )
    st = tracked_persist(tk.groupBy("source", "tok").agg(F.count("*").alias("n_st")))
    s = st.groupBy("source").agg(F.sum("n_st").cast("long").alias("n_s"))
    tt = st.groupBy("tok").agg(F.sum("n_st").cast("long").alias("n_t"))
    n = tt.agg(F.sum("n_t").cast("long").alias("total"))
    obs = (
        st.join(F.broadcast(s), on="source")
        .join(tt, on="tok")
        .crossJoin(F.broadcast(n))
        .groupBy("source")
        .agg(
            F.expr(f"SUM({_JS_TERM})").cast("long").alias("js_obs"),
            F.sum("n_t").cast("long").alias("obs_mass"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    return (
        obs.join(F.broadcast(s), on="source")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "source",
            "n_s AS n_tokens",
            "n_terms",
            f"CAST(js_obs + {_JS_UNOBS} AS BIGINT) AS js_micronats",
        )
    )


@register(
    "text_simpson_diversity",
    oracle=f"""
WITH tk AS (
  SELECT source, unnest({_DU_TOKS}) AS term FROM documents
),
per AS (
  SELECT source, term, COUNT(*)::BIGINT AS c FROM tk GROUP BY 1, 2
)
SELECT source,
       COUNT(*)::BIGINT AS n_types,
       SUM(c)::BIGINT AS n_tokens,
       CAST(SUM(c::HUGEINT * (c - 1)) * 1000000
            // NULLIF(SUM(c)::HUGEINT * (SUM(c) - 1), 0) AS BIGINT)
         AS simpson_ppm,
       CAST(SUM(c)::HUGEINT * (SUM(c) - 1) * 1000
            // NULLIF(SUM(c::HUGEINT * (c - 1)), 0) AS BIGINT)
         AS inv_simpson_milli
FROM per GROUP BY source
""",
    tags=("text", "quality", "statistics"),
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration per source — the probability two randomly
    drawn tokens are the same type, Σc(c−1)/N(N−1), plus its inverse
    (the 'effective number of types') — the diversity readout that
    weights COMMON types where TTR/hapax weight rare ones: template
    spam with a fat head concentrates Simpson long before it moves the
    type count.  Exact integer ppm/milli; the c(c−1) and N(N−1)
    products ride DECIMAL(38,0)/HUGEINT (both exceed int64 at corpus
    scale), with NULLIF guarding the degenerate single-token source.

    Scale shape: identical to text_ttr_by_source — one corpus explode,
    one (source, term) partial-agg exchange, bounded per-source output;
    the vocabulary-sized intermediate never visits one task.
    """
    tk = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(_SP_TOKS)).alias("term")
    )
    per = tk.groupBy("source", "term").agg(F.count("*").cast("long").alias("c"))
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) * 1000000"
            " div NULLIF(CAST(SUM(c) AS DECIMAL(38,0)) * (SUM(c) - 1), 0)"
            " AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CAST(CAST(SUM(c) AS DECIMAL(38,0)) * (SUM(c) - 1) * 1000"
            " div NULLIF(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)), 0)"
            " AS BIGINT)"
        ).alias("inv_simpson_milli"),
    )


ZIPF_TOP_K = 1000


@register(
    "text_zipf_slope",
    oracle=f"""
WITH tk AS (
  SELECT unnest({_DU_TOKS}) AS term FROM documents
),
cnt AS (SELECT term, COUNT(*)::BIGINT AS c FROM tk GROUP BY term),
top AS (
  SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT {ZIPF_TOP_K}
),
xy AS (
  SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS DOUBLE))
              * 1000000) AS BIGINT) AS lx,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS ly
  FROM top
),
m AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(lx)::HUGEINT AS sx, SUM(ly)::HUGEINT AS sy,
         SUM(lx::HUGEINT * ly) AS sxy, SUM(lx::HUGEINT * lx) AS sxx,
         SUM(ly::HUGEINT * ly) AS syy
  FROM xy
)
SELECT n AS n_terms,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
""",
    tags=("text", "statistics"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the head of the frequency table: OLS slope of
    ln(freq) on ln(rank) for the top-1000 terms (natural corpora sit
    near −1; templated or synthetic text flattens toward 0, and the R²
    reports how law-like the head is) — a one-number corpus-naturalness
    screen next to the drift and diversity views.

    Exactness: ranks and counts become per-row micro-nat integers
    (deterministic ln on exact integers, rounded PER ROW), the five OLS
    moments are exact integer sums in DECIMAL(38,0)/HUGEINT, and the
    final divisions are deterministic doubles on exact inputs —
    identical text both engines.

    Scale shape: one corpus explode + one term partial-agg exchange,
    then TakeOrderedAndProject keeps only the top-K rows (every task
    retains <= K); the rank window runs over that K-row bounded
    relation.  K is a constant — nothing downstream scales with the
    corpus.
    """
    tk = t(spark, sf_dir, "documents").select(
        F.explode(F.expr(_SP_TOKS)).alias("term")
    )
    cnt = tk.groupBy("term").agg(F.count("*").cast("long").alias("c"))
    top = cnt.orderBy(F.col("c").desc(), F.col("term")).limit(ZIPF_TOP_K)
    w = Window.orderBy(F.col("c").desc(), F.col("term"))
    xy = top.withColumn("rnk", F.row_number().over(w)).selectExpr(
        "CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS lx",
        "CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS ly",
    )
    m = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lx").cast("decimal(38,0)").alias("sx"),
        F.sum("ly").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(19,0)) * ly")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(19,0)) * lx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(ly AS DECIMAL(19,0)) * ly")).cast("decimal(38,0)").alias("syy"),
    )
    return m.selectExpr(
        "n AS n_terms",
        "round(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope",
        "round(CAST(n * sxy - sx * sy AS DOUBLE)"
        " * CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (CAST(n * sxx - sx * sx AS DOUBLE)"
        " * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2",
    )


# ---------------------------------------------------------------------------
# Flesch-style readability per source (integer milli-score)

# Vowel-group (syllable-proxy) count without a sentinel character:
# replacing each maximal vowel run with ONE char shortens the string by
# (vowel_chars - n_runs), so n_runs falls out of two lengths — no
# collision with any character the text might contain.  Spark's
# regexp_replace is global by default; DuckDB needs the explicit 'g'
# flag (first-match otherwise), so the two dialects differ in text.
_SP_VGROUPS = (
    "(length(regexp_replace(lower(text), '[aeiou]+', 'A'))"
    " - length(regexp_replace(lower(text), '[aeiou]+', '')))"
)
_DU_VGROUPS = (
    "(length(regexp_replace(lower(text), '[aeiou]+', 'A', 'g'))"
    " - length(regexp_replace(lower(text), '[aeiou]+', '', 'g')))"
)

_SP_WORDS = f"size(filter({_SP_TOKS}, t -> t <> ''))"
_DU_WORDS = f"len(list_filter({_DU_TOKS}, t -> t <> ''))"

_SP_SENTS = "GREATEST(length(regexp_replace(text, '[^.!?]', '')), 1)"
_DU_SENTS = "GREATEST(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)"


@register(
    "text_readability_flesch",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         {_DU_WORDS}::BIGINT AS w,
         {_DU_SENTS}::BIGINT AS s,
         {_DU_VGROUPS}::BIGINT AS y
  FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(w)::BIGINT AS n_words,
       SUM(s)::BIGINT AS n_sentences,
       SUM(y)::BIGINT AS n_syllables,
       CAST(206835 - SUM(w)::HUGEINT * 1015 // NULLIF(SUM(s), 0)
                   - SUM(y)::HUGEINT * 84600 // NULLIF(SUM(w), 0)
            AS BIGINT) AS flesch_milli
FROM per_doc
GROUP BY source
""",
    tags=("text", "quality", "north-star"),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source — the classic readability quality
    signal (206.835 − 1.015·words/sentence − 84.6·syllables/word)
    pretraining curricula use to bucket corpora by difficulty and to
    flag sources whose "text" is boilerplate or word salad (both score
    far off the prose band).  Syllables are approximated by vowel-group
    runs — the standard cheap proxy; sentences by terminal-punctuation
    count with a per-doc floor of 1.

    Exactness: words, sentences, and vowel groups are exact per-doc
    integers (the vowel-run count falls out of two regexp_replace
    lengths, so no sentinel character can collide with corpus text);
    the score is integer milli-units with the division products carried
    in DECIMAL(38,0)/HUGEINT (corpus token counts × 84600 pass int64).

    Scale shape: one map-only pass per document feeding a
    partial-aggregated per-source rollup — no explode, no join, no
    window; shuffle is O(sources).
    """
    per_doc = t(spark, sf_dir, "documents").selectExpr(
        "source",
        f"CAST({_SP_WORDS} AS BIGINT) AS w",
        f"CAST({_SP_SENTS} AS BIGINT) AS s",
        f"CAST({_SP_VGROUPS} AS BIGINT) AS y",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("s").cast("long").alias("n_sentences"),
            F.sum("y").cast("long").alias("n_syllables"),
            F.sum(F.col("w").cast("decimal(38,0)")).alias("sw"),
            F.sum(F.col("s").cast("decimal(38,0)")).alias("ss"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_syllables",
            "CAST(206835 - sw * 1015 div NULLIF(ss, 0)"
            " - sy * 84600 div NULLIF(sw, 0) AS BIGINT) AS flesch_milli",
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit over cumulative corpus prefixes

HEAPS_BUCKETS = 16
HEAPS_SHINGLE_K = 3

_HEAPS_DU_SH = portable.shingles("toks", HEAPS_SHINGLE_K, "duck")
_HEAPS_SP_SH = portable.shingles("toks", HEAPS_SHINGLE_K, "spark")


@register(
    "text_heaps_law_fit",
    oracle=f"""
WITH mx AS (SELECT MAX(doc_id)::BIGINT + 1 AS md FROM documents),
base AS (
  SELECT LEAST({HEAPS_BUCKETS - 1},
               d.doc_id * {HEAPS_BUCKETS} // mx.md)::BIGINT AS b,
         {_DU_TOKS} AS toks
  FROM documents d, mx
),
sh AS (SELECT b, s.term FROM base, LATERAL unnest({_HEAPS_DU_SH}) AS s(term)),
nb AS (SELECT b, COUNT(*)::BIGINT AS nt FROM sh GROUP BY b),
fb AS (
  SELECT fo, COUNT(*)::BIGINT AS nv
  FROM (SELECT term, MIN(b) AS fo FROM sh GROUP BY term) GROUP BY fo
),
cum AS (
  SELECT nb.b,
         SUM(nb.nt) OVER (ORDER BY nb.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
         SUM(COALESCE(fb.nv, 0)) OVER (ORDER BY nb.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM nb LEFT JOIN fb ON nb.b = fb.fo
),
xy AS (
  SELECT CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
         CAST(round(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS ly
  FROM cum
),
m AS (
  SELECT COUNT(*)::HUGEINT AS k, SUM(lx)::HUGEINT AS sx, SUM(ly)::HUGEINT AS sy,
         SUM(lx::HUGEINT * ly) AS sxy, SUM(lx::HUGEINT * lx) AS sxx,
         SUM(ly::HUGEINT * ly) AS syy
  FROM xy
)
SELECT CAST(k AS BIGINT) AS n_points,
       round(CAST(k * sxy - sx * sy AS DOUBLE)
             / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
       round(CAST(k * sxy - sx * sy AS DOUBLE)
             * CAST(k * sxy - sx * sy AS DOUBLE)
             / (CAST(k * sxx - sx * sx AS DOUBLE)
             * CAST(k * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
""",
    tags=("text", "quality", "statistics"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·N^β of CUMULATIVE distinct-shingle count
    against cumulative shingle count over 16 doc-id-ordered corpus
    prefixes — the vocabulary-growth sanity check dedup and tokenizer
    teams run on corpus inventories: natural text lands β well below 1,
    β ≈ 1 flags template/ID-heavy corpora (every shingle new) and β
    near 0 flags heavily duplicated ones (vocabulary saturated — the
    exact signal dedup removes).  Companion to text_zipf_slope
    (rank-frequency); the growth unit is the MinHash family's 3-token
    shingle, whose combinatorial vocabulary keeps growing where this
    synthetic corpus's ~31-word token vocabulary saturates in the first
    prefix (a degenerate, zero-variance fit — observed at every SF).

    Prefix points, not per-source points: per-source (N, V) pairs also
    degenerate when sources are uniformly sized (identical N collapses
    the OLS denominator).  Cumulative prefixes have strictly increasing
    N by construction, so the fit is always well-posed.

    Exactness: bucket assignment is exact integer arithmetic off the
    1-row max-doc-id relation; per-bucket shingle counts and per-shingle
    first-occurrence buckets are exact; ln is quantized ONCE per prefix
    point (the zipf-slope convention) so the OLS moments are exact
    integers in DECIMAL(38,0)/HUGEINT; β and r² are deterministic
    doubles from exact integers.

    Scale shape: one corpus shingle explode feeds BOTH the O(buckets)
    count rollup and the (shingle → min bucket) first-seen relation
    (one shingle-keyed exchange — the same volume as the MinHash
    signature build); the cumulative window runs over the 16-row bucket
    relation, bounded by the literal.
    """
    docs = t(spark, sf_dir, "documents")
    mx = docs.agg(F.expr("MAX(doc_id) + 1").alias("md"))
    base = docs.crossJoin(F.broadcast(mx)).select(
        F.expr(
            f"CAST(LEAST({HEAPS_BUCKETS - 1},"
            f" doc_id * {HEAPS_BUCKETS} div md) AS BIGINT)"
        ).alias("b"),
        F.expr(_SP_TOKS).alias("toks"),
    )
    sh = base.select("b", F.explode(F.expr(_HEAPS_SP_SH)).alias("term"))
    from uda_spark.cache import tracked_persist

    sh = tracked_persist(sh)
    nb = sh.groupBy("b").agg(F.count("*").alias("nt"))
    fb = (
        sh.groupBy("term")
        .agg(F.min("b").alias("fo"))
        .groupBy("fo")
        .agg(F.count("*").alias("nv"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        nb.join(fb, nb.b == fb.fo, "left")
        .select("b", "nt", F.coalesce("nv", F.lit(0)).alias("nv"))
        .select(
            "b",
            F.sum("nt").over(w).alias("n"),
            F.sum("nv").over(w).alias("v"),
        )
    )
    xy = cum.selectExpr(
        "CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS lx",
        "CAST(round(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS ly",
    )
    m = xy.agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("lx").cast("decimal(38,0)").alias("sx"),
        F.sum("ly").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(19,0)) * ly")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(19,0)) * lx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(ly AS DECIMAL(19,0)) * ly")).cast("decimal(38,0)").alias("syy"),
    )
    return m.selectExpr(
        "CAST(k AS BIGINT) AS n_points",
        "round(CAST(k * sxy - sx * sy AS DOUBLE)"
        " / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta",
        "round(CAST(k * sxy - sx * sy AS DOUBLE)"
        " * CAST(k * sxy - sx * sy AS DOUBLE)"
        " / (CAST(k * sxx - sx * sx AS DOUBLE)"
        " * CAST(k * syy - sy * sy AS DOUBLE)), 6) AS r2",
    )


# ---------------------------------------------------------------------------
# Character-level entropy per source


@register(
    "text_char_entropy",
    oracle="""
WITH chars AS (
  SELECT source, substr(lower(text), i::INT, 1) AS ch
  FROM documents, LATERAL unnest(range(1, length(text) + 1)) u(i)
),
cc AS (
  SELECT source, ch, COUNT(*)::BIGINT AS c FROM chars GROUP BY source, ch
),
n AS (SELECT source, SUM(c)::BIGINT AS n_chars, COUNT(*)::BIGINT AS alphabet
      FROM cc GROUP BY source),
q AS (
  SELECT cc.source, cc.c,
         CAST(round(ln(CAST(cc.c AS DOUBLE) / n.n_chars) * 1000000) AS BIGINT)
           AS lnp_micro
  FROM cc JOIN n USING (source)
)
SELECT q.source,
       MIN(n.n_chars)::BIGINT AS n_chars,
       MIN(n.alphabet)::BIGINT AS alphabet,
       CAST(SUM(q.c::HUGEINT * (-q.lnp_micro)) // MIN(n.n_chars) AS BIGINT)
         AS entropy_micronats
FROM q JOIN n USING (source)
GROUP BY q.source
""",
    tags=("text", "quality", "statistics"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per source — the cheapest
    encoding-damage / wrong-script detector in a curation stack: natural
    language sits in a narrow entropy band (~4.2 nats for English
    characters), while base64 blobs and binary-in-text score near the
    alphabet maximum and repeated-template spam scores far below it.
    Character-level, so it catches what token-level entropy
    (pipeline_mixture_entropy, events_entropy_rate) cannot: damage
    INSIDE tokens.

    Exactness: per-(source, char) counts are exact; ln(p) is quantized
    ONCE per distribution cell to integer micro-nats (the repo's
    convention), so H = −Σ c·lnp/N is exact integer arithmetic in
    DECIMAL(38,0)/HUGEINT (corpus char counts × micro-nats pass int64).

    Scale shape: the char explode feeds an immediate map-side-combined
    (source, char) aggregate — the shuffled relation is bounded by
    sources × alphabet, not corpus size; everything downstream is O(that).
    The per-source totals come from a source-partitioned window over that
    bounded relation rather than broadcast self-joins: the join
    formulation made Spark recompute the corpus-sized explode subtree
    THREE times (once per join consumer).  The char fan-out itself is
    split(lower(text), '') — O(len) per document and codepoint-aware
    (Java zero-width split advances by code point, so a non-BMP char
    stays one element, matching the oracle's substr loop); the previous
    per-index transform re-evaluated lower(text) inside the lambda and
    scanned substring(·, i, 1) from the string head, O(len²) per
    document — together ~10x slower at sf0.1 (4.6s -> 0.45s).
    split('', '') yields one empty-string element, hence the ch filter.
    """
    chars = (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.lower("text"), "")).alias("ch"),
        )
        .where(F.col("ch") != "")
    )
    cc = chars.groupBy("source", "ch").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source")
    q = cc.select(
        "source",
        "c",
        F.sum("c").over(w).cast("long").alias("n_chars"),
        F.count("*").over(w).cast("long").alias("alphabet"),
    ).withColumn(
        "lnp_micro",
        F.expr("CAST(round(ln(CAST(c AS DOUBLE) / n_chars) * 1000000) AS BIGINT)"),
    )
    return q.groupBy("source").agg(
        F.min("n_chars").cast("long").alias("n_chars"),
        F.min("alphabet").cast("long").alias("alphabet"),
        F.expr(
            "CAST(SUM(CAST(c AS DECIMAL(38,0)) * (-lnp_micro)) div MIN(n_chars)"
            " AS BIGINT)"
        ).alias("entropy_micronats"),
    )


@register(
    "text_perplexity_filter",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, unnest({_DU_TOKS}) AS term FROM documents
),
vocab AS (SELECT term, COUNT(*)::BIGINT AS c FROM tk GROUP BY term),
tot AS (SELECT SUM(c)::BIGINT AS s FROM vocab),
lp AS (
  SELECT term,
         CAST(floor(ln(c / CAST((SELECT s FROM tot) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS micronats
  FROM vocab
),
doc AS (
  SELECT tk.doc_id, COUNT(*)::BIGINT AS n_tokens,
         SUM(lp.micronats)::BIGINT AS sum_micronats
  FROM tk JOIN lp USING (term) GROUP BY tk.doc_id
),
keyed AS (
  SELECT doc_id, n_tokens,
         ((-sum_micronats) * 1000) // n_tokens AS nll_milli
  FROM doc
),
nt AS (
  SELECT doc_id, n_tokens, nll_milli,
         NTILE(4) OVER (ORDER BY nll_milli, doc_id) AS ppl_quartile
  FROM keyed
)
SELECT d.source, nt.ppl_quartile,
       COUNT(*)::BIGINT AS n_docs,
       SUM(nt.n_tokens)::BIGINT AS n_tokens,
       CAST(SUM(nt.nll_milli) // COUNT(*) AS BIGINT) AS mean_nll_milli
FROM nt JOIN documents d USING (doc_id)
GROUP BY d.source, nt.ppl_quartile
""",
    tags=("text", "north-star", "quality"),
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality partition: score every document
    by its per-token negative log-likelihood under the corpus unigram
    LM, cut the corpus into exact global perplexity quartiles, and
    report each source's document/token mass per quartile — the table a
    curation pipeline reads to decide "drop the worst quartile, keep
    head+middle" (CCNet's head/middle/tail buckets) and to see WHICH
    sources the cut hits.  The per-doc key is integer milli-micronats
    per token ((-sum_micronats)·1000 // n_tokens — negated first so
    floor and truncate agree; int64-safe to ~9e12 tokens per document).

    Scale shape: one corpus explode feeds the vocabulary count and the
    scoring join (term-keyed shuffle of (term, micronats) pairs — no
    vocabulary broadcast, same as text_unigram_logprob); quartiles come
    from :func:`uda_spark.operators.sort.global_ntile`'s two-pass
    range-partitioned rank (no single-partition window over the
    doc-cardinality key); the final rollup is a bounded
    (source × 4) aggregation.
    """
    from uda_spark.operators.sort import global_ntile

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_SP_TOKS)).alias("term"))
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    n_total = vocab.agg(F.sum("c")).collect()[0][0]
    lp = vocab.select(
        "term",
        F.expr(
            f"CAST(floor(ln(c / CAST({n_total} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("micronats"),
    )
    doc = (
        toks.join(lp, on="term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("micronats").cast("long").alias("sum_micronats"),
        )
    )
    keyed = doc.selectExpr(
        "doc_id",
        "n_tokens",
        "((-sum_micronats) * 1000L) div n_tokens AS nll_milli",
    )
    nt = global_ntile(keyed, ["nll_milli", "doc_id"], 4, alias="ppl_quartile")
    return (
        nt.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source", "ppl_quartile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr("CAST(SUM(nll_milli) div COUNT(*) AS BIGINT)").alias(
                "mean_nll_milli"
            ),
        )
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, then single punctuation
# marks.  The catch-all class is EXPLICIT printable-ASCII punctuation
# (ranges !-/ :-@ Z-` {-~ ; the Z-` range spans Z[\]^_` by code point and
# uppercase cannot occur after lower()) rather than a negated class like
# [^a-z0-9 ] so the count is engine-stable on arbitrary text: a negated
# class counts a non-BMP character (e.g. emoji) as TWO matches under
# Java's UTF-16-unit regex (Spark) but ONE under RE2's codepoint regex
# (DuckDB oracle).  With the explicit class, non-ASCII simply never
# matches in either engine.  On the pure-printable-ASCII test corpus
# (verified: 0 docs match '[^ -~]' at every SF) the two forms count
# identically, so this is value-neutral there.
_BPE_RE = "[a-z]+|[0-9]+|[!-/:-@Z-`{-~]"


@register(
    "text_tokenizer_fertility",
    oracle=f"""
WITH tk AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS bpe,
         len({_DU_TOKS}) AS ws,
         n_chars
  FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(bpe)::BIGINT AS bpe_tokens,
       SUM(ws)::BIGINT AS ws_tokens,
       CAST(SUM(bpe) * 1000000 // NULLIF(SUM(ws), 0) AS BIGINT) AS fertility_ppm,
       CAST(SUM(n_chars) * 1000 // NULLIF(SUM(bpe), 0) AS BIGINT)
         AS chars_per_bpe_milli
FROM tk GROUP BY source
""",
    tags=("text", "quality"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — BPE-ish subword tokens per
    whitespace word (and characters per subword token): the
    tokenizer-health metric a multilingual pipeline watches, since a
    source whose fertility spikes (script mismatch, encoding damage,
    digit-heavy boilerplate) silently consumes context budget.  Ratios
    are integer ppm/milli over the per-source sums (never per-doc
    floats averaged).

    Scale shape: pure map-side regexp + split on one corpus pass, then
    one bounded per-source rollup — the same two-job shape as
    text_quality_by_source.
    """
    return (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)")).alias(
                "bpe"
            ),
            F.size(F.expr(_SP_TOKS)).alias("ws"),
            "n_chars",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.expr(
                "CAST(SUM(bpe) * 1000000L div NULLIF(SUM(ws), 0) AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST(SUM(n_chars) * 1000L div NULLIF(SUM(bpe), 0) AS BIGINT)"
            ).alias("chars_per_bpe_milli"),
        )
    )
