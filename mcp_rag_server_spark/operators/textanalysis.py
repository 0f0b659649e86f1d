"""Text-analysis operators over the documents table.

BASELINE.json's LLM-data-pipeline directive: token counting, quality
scoring, language profiling, document fingerprinting, n-gram statistics.
All pure Spark SQL expressions — per-row array math stays in codegen;
global aggregations (term frequencies) are partial-aggregated explodes,
which is the shape that survives 100 TB (explode is narrow; the groupBy
shuffles only (token, count) partials, not documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.functions.numeric import dsum, duckdb_dsum
from mcp_rag_server_spark.functions.text import (
    duckdb_word_shingles,
    word_shingles,
    word_shingles_sql,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import spread_scan

#: Tiny English stopword list for ratio features (the fixture vocabulary
#: is shared word soup, FIXTURES.md A1 — the *ratios* are what matters).
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")

_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "ta_token_stats",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       n_chars,
       CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
FROM documents
ORDER BY doc_id
""",
    description="token counting per document (whitespace tokenizer)",
    tags=("text", "tokens"),
    bench=True,
)
def ta_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        "n_chars",
        (F.col("n_chars").cast("double") / n_tokens).alias("chars_per_token"),
    ).orderBy("doc_id")


@register(
    "ta_quality_score",
    oracle=f"""
SELECT doc_id,
       n_tokens,
       round(stop_ratio, 6) AS stop_ratio,
       round(distinct_ratio, 6) AS distinct_ratio,
       round(0.5 * distinct_ratio + 0.3 * stop_ratio
             + 0.2 * least(n_tokens / 100.0, 1.0), 6) AS quality
FROM (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN {_SW_SQL})) AS DOUBLE)
           / len(toks) AS stop_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
ORDER BY doc_id
""",
    description="heuristic document quality score (stopword ratio, lexical"
    " diversity, length saturation)",
    tags=("text", "quality"),
)
def ta_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality = 0.5*lexical_diversity + 0.3*stopword_ratio +
    0.2*min(len/100, 1). The fixture text is lowercase word soup, so
    punctuation/case features would be constant; the chosen features
    exercise the array-filter/distinct machinery that real quality
    classifiers (Gopher rules, C4 filters) are built from."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = (
        0.5 * distinct_ratio
        + 0.3 * stop_ratio
        + 0.2 * F.least(n / F.lit(100.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(quality, 6).alias("quality"),
    ).orderBy("doc_id")


@register(
    "ta_lang_profile",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       {duckdb_dsum('n_chars', 0)} AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    description="per-language corpus profile (language-ID downstream shape)",
    tags=("text", "lang"),
)
def ta_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            dsum("n_chars", 0).alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@register(
    "ta_langid_heuristic",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_intersect(list_distinct(string_split(text, ' ')),
             ['the', 'a', 'of', 'value', 'fast'])) AS en_score,
         len(list_intersect(list_distinct(string_split(text, ' ')),
             ['query', 'data', 'stream', 'group', 'filter'])) AS tech_score
  FROM documents
)
SELECT doc_id, lang,
       en_score, tech_score,
       CASE WHEN en_score >= tech_score THEN 'en-like' ELSE 'tech-like' END
         AS pred_class
FROM scored
ORDER BY doc_id
""",
    description="n-gram/lexicon language-ID heuristic (set-overlap scoring;"
    " deterministic argmax tie-break)",
    tags=("text", "lang"),
)
def ta_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap scoring — the shape of fastText-style langid's
    feature stage. The fixture vocabulary is shared across langs, so the
    *labels* here are synthetic classes; the operator (distinct-token set
    ∩ lexicon, argmax with deterministic tie-break) is the real thing."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    en_lex = F.array(*[F.lit(w) for w in ("the", "a", "of", "value", "fast")])
    tech_lex = F.array(
        *[F.lit(w) for w in ("query", "data", "stream", "group", "filter")]
    )
    en_score = F.size(F.array_intersect(toks, en_lex))
    tech_score = F.size(F.array_intersect(toks, tech_lex))
    return docs.select(
        "doc_id",
        "lang",
        en_score.alias("en_score"),
        tech_score.alias("tech_score"),
        F.when(en_score >= tech_score, F.lit("en-like"))
        .otherwise(F.lit("tech-like"))
        .alias("pred_class"),
    ).orderBy("doc_id")


@register(
    "ta_fingerprint",
    oracle=f"""
SELECT doc_id,
       CASE WHEN len(sh) > 0
            THEN list_min(list_transform(sh, s -> md5(s)))
            ELSE md5(text) END AS fingerprint
FROM (SELECT doc_id, text,
             {duckdb_word_shingles("string_split(text, ' ')", 3)} AS sh
      FROM documents)
ORDER BY doc_id
""",
    description="document fingerprint: min-hash over 3-word shingles"
    " (rolling-hash fingerprinting / MinHash k=1)",
    tags=("text", "fingerprint", "dedup"),
)
def ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint is the lexicographic min of md5 over the document's
    3-word shingles — a 1-permutation MinHash: equal fingerprints ⇒ high
    shingle overlap. md5-hex min is engine-portable (pure string order),
    unlike numeric hash() which differs per engine."""
    docs = load_table(spark, sf_dir, "documents")
    # Nested HOF (md5-transform over the shingle-transform) — built as SQL
    # text with distinct lambda vars (shi/fpv); see functions/vector.py.
    # coalesce instead of a size()-guarded CASE: HOFs run interpreted
    # with no common-subexpression elimination, so the CASE form built
    # the full shingle array TWICE per row (guard + branch) — array_min
    # of an empty array is NULL, which makes coalesce the single-eval
    # equivalent (measured ~6 s -> ~3 s steady at sf0.1, values
    # identical).
    sh_sql = word_shingles_sql("split(text, ' ')", 3, var="shi")
    fp = F.expr(
        f"coalesce(array_min(transform({sh_sql}, fpv -> md5(fpv))),"
        f" md5(text))"
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


@register(
    "ta_bigram_top",
    oracle=f"""
SELECT bigram, COUNT(*) AS freq
FROM (
  SELECT unnest({duckdb_word_shingles("string_split(text, ' ')", 2)}) AS bigram
  FROM documents
)
GROUP BY bigram
ORDER BY freq DESC, bigram ASC
LIMIT 20
""",
    description="global top-20 word bigrams (explode → partial agg → top-k)",
    tags=("text", "ngram", "agg"),
    bench=True,
)
def ta_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Bind the token array first: inlining split() into the shingle
    # lambda re-tokenizes once per bigram position (O(tokens^2)/doc).
    toked = docs.select(F.split("text", " ").alias("toks"))
    sh = word_shingles("toks", 2)
    return (
        toked.select(F.explode(sh).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "ta_tfidf_top",
    oracle="""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
df AS (
  SELECT token, COUNT(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
  GROUP BY token
)
SELECT token, doc_freq,
       round(ln(CAST(n.n_docs AS DOUBLE) / doc_freq), 6) AS idf
FROM df CROSS JOIN n
ORDER BY idf DESC, token ASC
LIMIT 25
""",
    description="document-frequency + IDF table (TF-IDF building block)",
    tags=("text", "tfidf"),
)
def ta_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF = ln(N/df), rounded to 6dp (ln is libm-dependent in the last
    ulp; rounding is the cross-engine determinism boundary).

    N arrives as a 1-row broadcast scalar aggregate folded into the DAG
    (same shape as the oracle's CROSS JOIN n) instead of a separate
    docs.count() action: one job, and the N branch scans only the
    pruned doc_id column."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    df = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
        )
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .select(
            "token",
            "doc_freq",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("doc_freq")), 6
            ).alias("idf"),
        )
        .orderBy(F.desc("idf"), F.asc("token"))
        .limit(25)
    )


@register(
    "ta_filter_pipeline",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL}))
              AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS distinct_ratio
  FROM documents
),
dedup AS (
  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
),
flags AS (
  SELECT f.source,
         (0.5 * f.distinct_ratio + 0.3 * f.stop_ratio
          + 0.2 * least(f.n_tokens / 100.0, 1.0)) >= 0.45 AS pass_quality,
         f.n_tokens BETWEEN 10 AND 1000 AS pass_length,
         d.is_canonical AS pass_dedup
  FROM feat f JOIN dedup d ON d.doc_id = f.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN pass_quality AND pass_length AND pass_dedup
                  THEN 1 END) AS n_kept,
       COUNT(CASE WHEN NOT pass_quality THEN 1 END) AS drop_quality,
       COUNT(CASE WHEN NOT pass_length THEN 1 END) AS drop_length,
       COUNT(CASE WHEN NOT pass_dedup THEN 1 END) AS drop_dup,
       round(CAST(COUNT(CASE WHEN pass_quality AND pass_length AND pass_dedup
                             THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS kept_ratio
FROM flags
GROUP BY source
ORDER BY source
""",
    description="composite training-data filter pipeline: quality + length"
    " + exact-dedup gates with per-source keep/drop accounting",
    tags=("text", "quality", "dedup", "pipeline"),
)
def ta_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/Gopher-style admission pipeline as one plan: per-doc
    features (narrow), canonical-copy flag via a window over md5(text)
    (one shuffle), then per-source keep/drop accounting (one partial
    agg). Every gate is a column, so at 100 TB the kept set is
    `filter(pass_*)` on the same scan — no second pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    quality = (
        0.5 * distinct_ratio
        + 0.3 * stop_ratio
        + 0.2 * F.least(n / F.lit(100.0), F.lit(1.0))
    )
    w = Window.partitionBy(F.md5("text"))
    flags = docs.select(
        "source",
        (quality >= 0.45).alias("pass_quality"),
        n.between(10, 1000).alias("pass_length"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("pass_dedup"),
    )
    kept = F.col("pass_quality") & F.col("pass_length") & F.col("pass_dedup")
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.count(F.when(~F.col("pass_quality"), 1)).alias("drop_quality"),
            F.count(F.when(~F.col("pass_length"), 1)).alias("drop_length"),
            F.count(F.when(~F.col("pass_dedup"), 1)).alias("drop_dup"),
            F.round(
                F.count(F.when(kept, 1)).cast("double") / F.count("*"), 6
            ).alias("kept_ratio"),
        )
        .orderBy("source")
    )


@register(
    "ta_repetition_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
tp AS (
  SELECT doc_id, c,
         CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) AS p
  FROM tc
),
tstat AS (
  SELECT doc_id,
         SUM(c) AS n_tokens,
         MAX(c) AS top_c,
         round(-SUM(p * log2(p)), 6) AS token_entropy
  FROM tp GROUP BY doc_id
),
big AS (
  SELECT doc_id, unnest(bg) AS bigram
  FROM (SELECT doc_id,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                              i -> t[i] || ' ' || t[i + 1]) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM big GROUP BY doc_id, bigram),
bstat AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bc
          FROM bc GROUP BY doc_id)
SELECT t.doc_id,
       round(CAST(t.top_c AS DOUBLE) / t.n_tokens, 6) AS top_token_ratio,
       round(CAST(b.top_bc AS DOUBLE) / b.n_bigrams, 6) AS top_bigram_ratio,
       t.token_entropy,
       (CAST(t.top_c AS DOUBLE) / t.n_tokens > 0.15
        OR CAST(b.top_bc AS DOUBLE) / b.n_bigrams > 0.05) AS is_repetitive
FROM tstat t JOIN bstat b ON b.doc_id = t.doc_id
ORDER BY t.doc_id
""",
    description="Gopher-style repetition filters: top-token/top-bigram"
    " frequency ratios + unigram entropy per document",
    tags=("text", "quality", "repetition"),
)
def ta_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition features for training-data admission: a document whose
    most frequent token (or bigram) dominates is boilerplate/spam-like,
    and low unigram entropy catches degenerate near-constant text.
    Shape: explode → count per (doc, gram) → per-doc max/sum — both
    gram families partial-aggregate before their one shuffle on doc_id,
    so 100 TB cost is two explode+combine passes, no self-joins.
    Entropy sums ~vocabulary-size doubles per doc then rounds to 1e-6 —
    far above double summation error, so cross-engine stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    n_tok = F.sum("c")
    p = F.col("c").cast("double") / F.sum("c").over(Window.partitionBy("doc_id"))
    tstat = (
        tc.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            n_tok.alias("n_tokens"),
            F.max("c").alias("top_c"),
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("token_entropy"),
        )
    )
    bigrams = docs.select(
        "doc_id",
        F.explode(word_shingles("split(text, ' ')", k=2, var="bg")).alias("bigram"),
    )
    bc = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    bstat = bc.groupBy(F.col("doc_id").alias("b_doc_id")).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bc")
    )
    ttr = F.col("top_c").cast("double") / F.col("n_tokens")
    tbr = F.col("top_bc").cast("double") / F.col("n_bigrams")
    return (
        tstat.join(bstat, F.col("doc_id") == F.col("b_doc_id"))
        .select(
            "doc_id",
            F.round(ttr, 6).alias("top_token_ratio"),
            F.round(tbr, 6).alias("top_bigram_ratio"),
            "token_entropy",
            ((ttr > 0.15) | (tbr > 0.05)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


#: Per-language sampling rates (percent) for the deterministic sampler.
_SAMPLE_RATES = {"en": 50, "de": 30, "es": 20, "fr": 20, "zh": 10}


@register(
    "ta_stratified_sample",
    oracle=f"""
WITH rated AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket,
         CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items())}
              ELSE 0 END AS rate
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       COUNT(CASE WHEN bucket < rate THEN 1 END) AS n_sampled,
       round(CAST(COUNT(CASE WHEN bucket < rate THEN 1 END) AS DOUBLE)
             / COUNT(*), 4) AS actual_rate
FROM rated
GROUP BY lang
ORDER BY lang
""",
    description="deterministic stratified sampling: per-language rates via"
    " an md5 hash-bucket of doc_id (no rand(), reproducible across"
    " engines, runs, and partitionings)",
    tags=("text", "sampling"),
)
def ta_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data downsampling must be reproducible — rand() depends
    on partitioning and seed plumbing, so the sample key is a pure
    function of the row: fold md5(doc_id) to 32 bits, mod 100, compare
    to the stratum's rate. Any engine, any partitioning, any day: same
    sample. The same bucket column also gives consistent holdout splits
    (bucket ranges) and sample-rate ramps (raise the threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 100"
    )
    rate = F.lit(0)
    for lang, r in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    rated = docs.select(
        "lang", bucket.alias("bucket"), rate.alias("rate")
    )
    sampled = F.count(F.when(F.col("bucket") < F.col("rate"), 1))
    return (
        rated.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            sampled.alias("n_sampled"),
            F.round(sampled.cast("double") / F.count("*"), 4).alias("actual_rate"),
        )
        .orderBy("lang")
    )


#: Decontamination shingle width. Production pipelines use 8-13-gram
#: overlap; the fixture texts are short random word soup, so 4-word
#: shingles give the same discriminative behavior (a handful of true
#: collisions, not half the corpus).
DECON_SHINGLE_K = 4

#: The held-out "benchmark" split: a deterministic doc_id slice.
DECON_EVAL_PRED = "doc_id % 50 = 0"


@register(
    "ta_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         unnest({duckdb_word_shingles("string_split(text, ' ')", DECON_SHINGLE_K)})
           AS shingle
  FROM documents
),
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE {DECON_EVAL_PRED.replace('doc_id', 'doc_id')}
),
train_sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh WHERE NOT ({DECON_EVAL_PRED})
)
SELECT t.doc_id, COUNT(*) AS n_shared_shingles
FROM train_sh t JOIN eval_sh e USING (shingle)
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    description="train/eval decontamination: training docs sharing any"
    " word shingle with the held-out split, with overlap counts — the"
    " benchmark-leakage scan every training corpus needs",
    tags=("text", "dedup", "decontamination"),
)
def ta_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination = a training document sharing ≥1 distinct word
    shingle (DECON_SHINGLE_K wide) with the eval split. Shape: explode shingles once, split by
    the eval predicate, semi-ish join on the shingle value. At 100 TB
    the join shuffles (doc, shingle) pairs hashed by shingle — the same
    partitioning real decontamination pipelines use — and the eval side
    (benchmarks are tiny vs the corpus) broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 50 == 0
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh = toked.select(
        "doc_id", F.explode(word_shingles("toks", DECON_SHINGLE_K)).alias("shingle")
    )
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    train_sh = sh.filter(~is_eval).distinct()
    return (
        train_sh.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


#: Mixture cap: at most this many docs kept per source.
MIXTURE_CAP = 15


@register(
    "ta_mixture_cap",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source, doc_id FROM ranked
WHERE rk <= {MIXTURE_CAP}
ORDER BY source, doc_id
""",
    description="data-mixture capping: keep at most N docs per source,"
    " chosen by deterministic md5 order (no rand()) — the per-source"
    " quota step of training-data mixing",
    tags=("text", "sampling", "mixture"),
)
def ta_mixture_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-represented sources get capped by taking the first N docs in
    md5(doc_id) order — a uniform, reproducible choice (same docs on any
    engine/partitioning; ties impossible since doc_id breaks them). The
    window partitions by source, so at 100 TB each source sorts only its
    own (md5, doc_id) pairs — no global sort; raising the cap or
    reweighting a source is a constant change."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= MIXTURE_CAP)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs —
#: the GPT-2-style pre-split (simplified to a dialect-portable regex).
BPE_SPLIT_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


@register(
    "ta_token_budget",
    oracle=f"""
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{BPE_SPLIT_RE}'))) AS BIGINT)
         AS bpe_tokens,
       CAST(SUM(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_llm_tokens
FROM documents
GROUP BY source, lang
ORDER BY source, lang
""",
    description="per-source/lang token budgeting: whitespace tokens,"
    " BPE-ish pre-tokenizer counts (letter/digit/punct runs), and the"
    " chars/4 LLM-token estimate — the table mixture planning reads",
    tags=("text", "tokens", "mixture"),
)
def ta_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting is exact integer math (no float accumulation), so the
    group totals are engine-identical. The BPE-ish regex is the GPT-2
    pre-split shape; on a punctuation-free fixture it coincides with
    whitespace counts, and the oracle pins the regex semantics across
    engines either way. One partial-aggregated groupBy — at 100 TB this
    is a single shuffle of (source, lang, partial sums)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
            F.sum(
                F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), 0))
            ).alias("bpe_tokens"),
            F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_llm_tokens"),
        )
        .orderBy("source", "lang")
    )


#: Zipf fit: regress ln(freq) on ln(rank) over the top-ZIPF_TOP tokens.
ZIPF_TOP = 100


@register(
    "ta_zipf_fit",
    oracle=f"""
WITH freq AS (
  SELECT token, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk
  FROM freq
),
xy AS (
  SELECT CAST(round(ln(rnk), 6) AS DECIMAL(10,6)) AS x,
         CAST(round(ln(cnt), 6) AS DECIMAL(10,6)) AS y
  FROM ranked WHERE rnk <= {ZIPF_TOP}
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_tokens,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round(CAST(sy AS DOUBLE) / n
             - CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)
               * (CAST(sx AS DOUBLE) / n), 6) AS intercept,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM s
""",
    description=f"Zipf's-law fit: least-squares slope of ln(freq) vs"
    f" ln(rank) over the top-{ZIPF_TOP} tokens, with intercept and R² —"
    " the corpus-health diagnostic (natural text slopes ≈ −1; synthetic"
    " or templated corpora drift) computed with exact-decimal sums",
    tags=("text", "stats", "regression"),
)
def ta_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple regression, decimal-exact: x=ln(rank) and
    y=ln(freq) are rounded to 6dp (the libm boundary, registry rules)
    and cast DECIMAL(10,6); Σx, Σy, Σxy, Σx², Σy² are then EXACT decimal
    sums (order-independent), so slope/intercept/R² are each ONE
    identical IEEE expression over identical decimal inputs in both
    engines — distributed regression without regr_slope's
    order-dependent float accumulation.

    Scale: token counts are one partial agg; the rank window is global
    but its input is the distinct-token table (vocabulary-sized, Heaps'
    law sublinear — ta_vocab_growth measures exactly that), and the
    moment agg reduces {ZIPF_TOP} rows to one."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = freq.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .alias("rnk"),
    ).filter(F.col("rnk") <= ZIPF_TOP)
    xy = ranked.select(
        F.round(F.log("rnk"), 6).cast("decimal(10,6)").alias("x"),
        F.round(F.log("cnt"), 6).cast("decimal(10,6)").alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("sx").cast("double") / F.col("n")),
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


#: Fuzzy-match injection rule: docs with doc_id % FUZZY_MOD == FUZZY_REM
#: contribute a "typo" — their first token with its 2nd char dropped
#: (same deterministic-injection pattern as ta_pii_scrub: the fixture
#: vocabulary has no natural typos, so the operator's subject is
#: planted; the MATCHING machinery under test is the production shape).
FUZZY_MOD, FUZZY_REM = 10, 7
FUZZY_MIN_LEN = 4


@register(
    "ta_fuzzy_correct",
    oracle=f"""
WITH typo_src AS (
  SELECT string_split(text, ' ')[1] AS t
  FROM documents WHERE doc_id % {FUZZY_MOD} = {FUZZY_REM}
),
typos AS (
  SELECT substr(t, 1, 1) || substr(t, 3) AS typo, COUNT(*) AS n_typo_docs
  FROM typo_src WHERE length(t) >= {FUZZY_MIN_LEN}
  GROUP BY substr(t, 1, 1) || substr(t, 3)
),
dict AS (
  SELECT token, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
tkeys AS (
  SELECT typo, n_typo_docs,
         unnest(list_append(list_transform(range(1, length(typo) + 1),
           i -> substr(typo, 1, i - 1) || substr(typo, i + 1)), typo)) AS k
  FROM typos
),
dkeys AS (
  SELECT token, cnt,
         unnest(list_append(list_transform(range(1, length(token) + 1),
           i -> substr(token, 1, i - 1) || substr(token, i + 1)), token)) AS k
  FROM dict
),
cand AS (
  SELECT DISTINCT t.typo, t.n_typo_docs, d.token, d.cnt
  FROM tkeys t JOIN dkeys d USING (k)
  WHERE levenshtein(t.typo, d.token) = 1
),
best AS (
  SELECT typo, n_typo_docs, token AS correction, cnt AS correction_cnt,
         row_number() OVER (PARTITION BY typo
                            ORDER BY cnt DESC, token ASC) AS rn
  FROM cand
)
SELECT typo, n_typo_docs, correction, correction_cnt
FROM best WHERE rn = 1
ORDER BY typo
""",
    description="SymSpell-style fuzzy correction: deterministically"
    " injected typos matched against the corpus dictionary via"
    " deletion-neighborhood blocking (shared single-delete key => "
    "candidate), exact Levenshtein verify on candidates only, best"
    " correction by dictionary frequency — edit-distance join with no"
    " all-pairs stage",
    tags=("text", "fuzzy", "dedup"),
)
def ta_fuzzy_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-neighborhood blocking (the SymSpell scheme, public): a
    token's match keys are itself plus each single-character deletion;
    two strings within edit distance 1 ALWAYS share a key, so the
    equi-join on keys is a complete candidate generator and the O(len)
    Levenshtein verify runs only on bucket-mates. Scale: key explosion
    is O(token_len) per dictionary entry, the join is keyed by the
    (high-cardinality) variant string, and per-key fan-in is bounded by
    neighborhood bucket sizes — never vocabulary². The dictionary side
    partial-aggregates before key explosion, so corpus token count
    never amplifies. Typo injection: first token of every
    doc_id%{FUZZY_MOD}=={FUZZY_REM} doc, 2nd char dropped (≥{FUZZY_MIN_LEN}
    chars), mirroring the oracle's CTE exactly."""
    docs = load_table(spark, sf_dir, "documents")

    def del_keys(col: str, var: str):
        return F.expr(
            f"array_append(transform(sequence(1, length({col})), "
            f"{var} -> concat(substr({col}, 1, {var} - 1), "
            f"substr({col}, {var} + 1))), {col})"
        )

    typos = (
        docs.filter(F.col("doc_id") % FUZZY_MOD == FUZZY_REM)
        .select(F.element_at(F.split("text", " "), 1).alias("t"))
        .filter(F.length("t") >= FUZZY_MIN_LEN)
        .select(
            F.concat(
                F.substring("t", 1, 1), F.expr("substr(t, 3)")
            ).alias("typo")
        )
        .groupBy("typo")
        .agg(F.count("*").alias("n_typo_docs"))
    )
    dict_ = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    tkeys = typos.select(
        "typo", "n_typo_docs", F.explode(del_keys("typo", "fz_i")).alias("k")
    )
    dkeys = dict_.select(
        "token", "cnt", F.explode(del_keys("token", "fz_j")).alias("k")
    )
    cand = (
        tkeys.join(dkeys, "k")
        .filter(F.levenshtein("typo", "token") == 1)
        .select("typo", "n_typo_docs", "token", "cnt")
        .distinct()
    )
    w = Window.partitionBy("typo").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "typo",
            "n_typo_docs",
            F.col("token").alias("correction"),
            F.col("cnt").alias("correction_cnt"),
        )
        .orderBy("typo")
    )


def _re_count(dialect: str, col: str, pattern: str) -> str:
    """Occurrence count of a regex — regexp_extract_all length; Spark
    needs the explicit group-index 0 for the full match, DuckDB
    defaults to it. Patterns below use only class/quantifier syntax
    shared by Java regex and RE2."""
    if dialect == "spark":
        return f"size(regexp_extract_all({col}, '{pattern}', 0))"
    return f"len(regexp_extract_all({col}, '{pattern}'))"


def _fk_sql(dialect: str) -> str:
    syl = _re_count(dialect, "text", "[aeiouyAEIOUY]+")
    sen = _re_count(dialect, "text", "[.!?]")
    return f"""
WITH feats AS (
  SELECT lang,
         CAST({_re_count(dialect, "text", "[^ ]+")} AS DOUBLE) AS w,
         CAST({syl} AS DOUBLE) AS syl,
         CAST(GREATEST({sen}, 1) AS DOUBLE) AS sen
  FROM documents
),
graded AS (
  -- NULLIF: a zero-word doc (empty/whitespace text) has no grade —
  -- NULL on both engines (DuckDB NULLs /0, Spark ANSI would throw)
  SELECT lang,
         round(CAST(0.39 AS DOUBLE) * (w / sen)
               + CAST(11.8 AS DOUBLE) * (syl / NULLIF(w, 0))
               - CAST(15.59 AS DOUBLE), 4) AS fk
  FROM feats
)
SELECT lang,
       COUNT(*) AS n_docs,
       round(CAST(SUM(CAST(fk AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*), 4) AS avg_grade,
       MIN(fk) AS min_grade,
       MAX(fk) AS max_grade
FROM graded
GROUP BY lang
ORDER BY lang
"""


@register(
    "ta_readability_fk",
    oracle=_fk_sql("duckdb"),
    description="Flesch-Kincaid grade-level readability per language:"
    " vowel-group syllable heuristic + word/sentence counts, the FK"
    " formula as fixed-order IEEE math per doc, decimal-exact per-lang"
    " averages — the readability quality feature beside the Gopher"
    " rule census",
    tags=("text", "quality", "readability"),
)
def ta_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK grade 0.39·(words/sentence) + 11.8·(syllables/word) − 15.59
    (Kincaid et al. 1975) with the standard vowel-group syllable
    approximation — all three counts are single-pass regex counts in
    codegen (no tokenizer UDF), the per-doc grade is per-row IEEE
    math rounded to 4, and the per-lang average goes through the
    usual decimal partial sum. One narrow scan + one bounded-key
    aggregation; the regex work is the same whole-stage-codegen shape
    as ta_gopher_rules' rule features."""
    text = _fk_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Code-detection lexicon and thresholds.
CODE_KEYWORDS = ("def", "return", "import", "class", "function")
CODE_SYMBOL_RATIO = 0.02
CODE_KEYWORD_MIN = 2


def _code_sql(dialect: str) -> str:
    sym = _re_count(dialect, "text", "[{{}};=<>()]")
    if dialect == "spark":
        kw = (
            "size(array_intersect(array_distinct(split(text, ' ')), "
            f"array({', '.join(repr(k) for k in CODE_KEYWORDS)})))"
        )
    else:
        kw = (
            "len(list_intersect(list_distinct(string_split(text, ' ')), "
            f"[{', '.join(repr(k) for k in CODE_KEYWORDS)}]))"
        )
    return f"""
WITH feats AS (
  SELECT source,
         CAST({sym} AS DOUBLE) / GREATEST(LENGTH(text), 1)
           AS symbol_ratio,
         {kw} AS kw_hits
  FROM documents
),
flagged AS (
  SELECT source,
         CASE WHEN symbol_ratio > {CODE_SYMBOL_RATIO}
                   OR kw_hits >= {CODE_KEYWORD_MIN}
              THEN 1 ELSE 0 END AS is_code
  FROM feats
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(is_code) AS BIGINT) AS n_code_like,
       round(CAST(SUM(is_code) AS DOUBLE) / COUNT(*), 4) AS code_ratio
FROM flagged
GROUP BY source
ORDER BY source
"""


@register(
    "ta_code_detect",
    oracle=_code_sql("duckdb"),
    description="code-vs-prose heuristic census per source: symbol-"
    "density ratio + code-keyword lexicon hits (The-Stack-style"
    " filter features), flagged fraction hashed per source — the"
    " corpus-composition signal a code/prose mixture needs before"
    " setting sampling weights",
    tags=("text", "quality", "code"),
)
def ta_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two cheap surface features decide the flag: density of
    code-punctuation characters and membership hits against a tiny
    keyword lexicon (the same array-intersect shape as
    ta_langid_heuristic — deterministic, no model). On this synthetic
    corpus the flag is a fixture-dependent mix; the OPERATOR — regex
    feature extraction in codegen, threshold disjunction, per-source
    census — is the real filter stage, and both engines replay it
    token for token. Note the symbol-class regex doubles its braces
    for Python's f-string, not for the regex engines."""
    text = _code_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


def _confusion_sql(dialect: str) -> str:
    if dialect == "spark":
        en = (
            "size(array_intersect(array_distinct(split(text, ' ')), "
            "array('the', 'a', 'of', 'value', 'fast')))"
        )
        tech = (
            "size(array_intersect(array_distinct(split(text, ' ')), "
            "array('query', 'data', 'stream', 'group', 'filter')))"
        )
    else:
        en = (
            "len(list_intersect(list_distinct(string_split(text, ' ')), "
            "['the', 'a', 'of', 'value', 'fast']))"
        )
        tech = (
            "len(list_intersect(list_distinct(string_split(text, ' ')), "
            "['query', 'data', 'stream', 'group', 'filter']))"
        )
    return f"""
WITH pred AS (
  SELECT lang,
         CASE WHEN {en} >= {tech} THEN 'en-like' ELSE 'tech-like' END
           AS pred_class
  FROM documents
),
cells AS (
  SELECT lang, pred_class, COUNT(*) AS n
  FROM pred GROUP BY lang, pred_class
),
tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total FROM cells
  GROUP BY lang
)
SELECT c.lang, c.pred_class, c.n, t.lang_total,
       round(CAST(c.n AS DOUBLE) / t.lang_total, 4) AS row_frac
FROM cells c JOIN tot t ON c.lang = t.lang
ORDER BY c.lang, c.pred_class
"""


@register(
    "ta_lang_confusion",
    oracle=_confusion_sql("duckdb"),
    description="classifier evaluation as a confusion matrix: the"
    " langid heuristic's predicted class against the labeled lang,"
    " cell counts + per-label row fractions — the eval-harness shape"
    " (truth x prediction contingency) every classifier in the"
    " pipeline gets judged by",
    tags=("text", "lang", "eval"),
)
def ta_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ta_langid_heuristic registers the classifier; this registers
    its EVALUATION — the (truth label × predicted class) contingency
    table with per-truth-row normalization, the exact shape accuracy/
    recall/precision read off of. Two bounded-key aggregations and a
    broadcast-size join on the label; at 100 TB the matrix is still
    |labels|×|classes| rows. Cell counts are exact integers; row
    fractions one rounded division each."""
    text = _confusion_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: BPE training: unrolled merge iterations.
BPE_ITERS = 3


def _bpe_sql(
    dialect: str,
    keep_word: bool = False,
    final_select: str | None = None,
    s0_bound: bool = False,
) -> str:
    """Unrolled distributed BPE merge learning (Sennrich et al.
    ACL'16): word-frequency table → space-separated symbol strings →
    per-iteration (pair count, arg-max merge, replace-all apply).
    Replace-all is left-to-right non-overlapping in BOTH engines
    (verified: ' a a a ' -> ' aa a '), which IS greedy BPE merge
    application, so the chain is engine-identical. ``keep_word``
    threads the word column through the symbol chain so ``s{N}`` is a
    word→encoding dictionary (used by ``ta_bpe_apply``; the pair
    aggregation ignores the extra column, so the learned merges are
    identical either way). ``s0_bound`` (spark side, r14) drops the
    words/s0 CTEs: the caller binds ``s0`` to a pre-checkpointed frame
    (``catalog.sql`` splices it into this WITH list) so the CTE
    re-inlining above it stays vocabulary-cost — the SQL from s0 up is
    byte-identical either way."""
    if dialect == "spark":
        chars = "array_join(split(word, ''), ' ')"

        def pairs(t: str) -> str:
            return (
                f"CASE WHEN size({t}) < 2 THEN array() "
                f"ELSE transform(sequence(1, size({t}) - 1), bp_k -> "
                f"concat(element_at({t}, bp_k), ' ', "
                f"element_at({t}, bp_k + 1))) END"
            )

        def nsyms(s: str) -> str:
            return f"size(split({s}, ' '))"

        ex = "explode"
    else:
        chars = "array_to_string(string_split(word, ''), ' ')"

        def pairs(t: str) -> str:
            return (
                f"list_transform(range(1, len({t})), bp_k -> "
                f"{t}[bp_k] || ' ' || {t}[bp_k + 1])"
            )

        def nsyms(s: str) -> str:
            return f"len(string_split({s}, ' '))"

        ex = "unnest"

    kw = "s.word, " if keep_word else ""
    iters = []
    for i in range(1, BPE_ITERS + 1):
        prev = f"s{i - 1}"
        iters.append(f"""
p{i} AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT freq, {ex}({pairs(f"string_to_array_{i}")}) AS pair
        FROM (SELECT freq, sym, {_bpe_split(dialect, "sym")}
                     AS string_to_array_{i}
              FROM {prev}))
  GROUP BY pair
),
t{i} AS (
  SELECT pair, replace(pair, ' ', '') AS merged, pair_count
  FROM p{i} ORDER BY pair_count DESC, pair LIMIT 1
),
s{i} AS (
  SELECT {kw}s.freq,
         trim(replace(' ' || s.sym || ' ',
                      ' ' || t.pair || ' ',
                      ' ' || t.merged || ' ')) AS sym
  FROM {prev} s CROSS JOIN t{i} t
),
c{i} AS (
  SELECT CAST(SUM(freq * {nsyms("sym")}) AS BIGINT) AS corpus_tokens
  FROM s{i}
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, t{i}.pair, t{i}.merged, t{i}.pair_count,"
        f" c{i}.corpus_tokens AS corpus_tokens_after"
        f" FROM t{i} CROSS JOIN c{i}"
        for i in range(1, BPE_ITERS + 1)
    )
    s0_cols = "word, freq" if keep_word else "freq"
    final = final_select or f"{selects}\nORDER BY merge_rank"
    if s0_bound:
        return f"""
WITH{",".join(iters)}
{final}
"""
    head = f"""WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT {ex}({_bpe_split(dialect, "text")}) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
),
s0 AS (
  SELECT {s0_cols}, {chars} || ' </w>' AS sym FROM words
)"""
    return f"""
{head},{",".join(iters)}
{final}
"""


def _bpe_split(dialect: str, col: str) -> str:
    if dialect == "spark":
        return f"split({col}, ' ')"
    return f"string_split({col}, ' ')"


# --- r14: checkpoint the corpus-cost stage of the BPE chain ------------
#
# The single-statement form re-inlines every CTE per consumer: each
# s{i} is read by p{i+1}, s{i+1} AND c{i}, so the words/s0 lineage
# fans out multiplicatively and the formatted plan of ta_bpe_apply
# held EIGHTEEN corpus scans at BPE_ITERS=3 (the plan at 0922401^,
# the parent of the commit that staged it; tools/gen_plans.py
# regenerates plans). Only the word-frequency stage is corpus-cost, so
# ONLY it is checkpointed (one eager localCheckpoint, bound as ``s0``);
# the merge chain above it stays one statement — its re-inlined
# copies are vocabulary-sized, and Spark runs the independent
# subtrees as CONCURRENT stages, which a fully-staged sequential
# checkpoint chain measurably loses to (interleaved A/B this round:
# full staging 3.06 s vs 1.97 s baseline at sf0.1 — the guide §1.1
# "ideal plan is usually slower at first" case; checkpointing s0
# alone keeps the concurrency AND removes the corpus rescans).

def _bpe_words_s0_sql(keep_word: bool) -> str:
    """words + s0 in one statement (the only corpus-cost stage of the
    BPE chain; spark dialect)."""
    chars = "array_join(split(word, ''), ' ')"
    s0_cols = "word, freq" if keep_word else "freq"
    return f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)
SELECT {s0_cols}, {chars} || ' </w>' AS sym FROM words"""


def _bpe_checkpoint_s0(
    spark: SparkSession, docs: DataFrame, keep_word: bool
) -> DataFrame:
    """Materialize words+s0 of ``docs`` once."""
    return sql(
        spark, _bpe_words_s0_sql(keep_word), documents=docs
    ).localCheckpoint(eager=True)


@register(
    "ta_bpe_train",
    oracle=_bpe_sql("duckdb"),
    description="distributed BPE tokenizer training (Sennrich et al."
    " ACL'16): 3 unrolled merge iterations over the word-frequency"
    " table — weighted adjacent-pair counts, deterministic arg-max"
    " merge selection, greedy replace-all application — each learned"
    " merge and the shrinking corpus token count inside the driver"
    " hash",
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def ta_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training IS a distributed aggregation loop: pair counts are
    a keyed partial-agg over the word-frequency table (vocabulary-
    sized, never corpus-sized — the freq column carries the corpus
    weight), the winning merge is a 1-row arg-max broadcast back, and
    merge application is replace-all on the space-separated symbol
    string — whose left-to-right non-overlapping semantics are exactly
    greedy BPE and identical in both engines. The </w> end-of-word
    marker keeps merges from crossing word boundaries, as in the
    paper. Three unrolled iterations, each: one shuffle on pair, one
    broadcast join. At 100 TB the word-frequency table is the only
    state (Heaps-sublinear), so hundreds of merge iterations run at
    vocabulary cost, not corpus cost — the reason every production
    BPE trainer works from word counts. r14: the corpus-cost
    words/s0 stage is checkpointed once (``_bpe_checkpoint_s0``) and
    the merge chain reads it as the bound ``s0`` — the re-inlined CTE
    copies above s0 are vocabulary-sized and stay one concurrent
    statement."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    s0 = _bpe_checkpoint_s0(spark, docs, keep_word=False)
    return sql(spark, _bpe_sql("spark", s0_bound=True), s0=s0)


def _bpe_apply_sql(dialect: str, s0_bound: bool = False) -> str:
    """Encode the corpus with the merges ``ta_bpe_train`` learns: the
    word-keyed symbol chain (keep_word=True) IS the word→encoding
    dictionary, so application is a word join, never a per-token
    replay of the merge list."""
    if dialect == "spark":
        nsyms = "size(split(sym, ' '))"
        word_src = (
            "SELECT source, explode(split(text, ' ')) AS word"
            " FROM documents"
        )
    else:
        nsyms = "len(string_split(sym, ' '))"
        word_src = (
            "SELECT source, unnest(string_split(text, ' ')) AS word"
            " FROM documents"
        )
    final = f""",
enc AS (
  SELECT word, {nsyms} AS n_toks, length(word) + 1 AS n_char_toks
  FROM s{BPE_ITERS}
),
docw AS (
  SELECT source, word FROM ({word_src}) w WHERE word <> ''
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_toks) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(e.n_char_toks) AS BIGINT) AS n_char_tokens,
       round(SUM(e.n_toks) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
       round(SUM(e.n_char_toks) / CAST(SUM(e.n_toks) AS DOUBLE), 6)
         AS compression_vs_chars
FROM docw d JOIN enc e ON e.word = d.word
GROUP BY d.source
ORDER BY d.source"""
    return _bpe_sql(
        dialect, keep_word=True, final_select=final, s0_bound=s0_bound
    )


@register(
    "ta_bpe_apply",
    oracle=_bpe_apply_sql("duckdb"),
    description="apply the trained BPE merges to the corpus: encode"
    " every word via the word→encoding dictionary the merge chain"
    " produces, then per-source token accounting — words, BPE tokens,"
    " character-baseline tokens, fertility (tokens/word) and the"
    " compression ratio the learned merges buy",
    tags=("text", "tokenizer", "bpe", "iterative"),
    bench=True,
)
def ta_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale is a dictionary join, not
    a per-document merge replay: the training chain already carries
    every word to its final symbol string (``keep_word=True`` threads
    the word through — pair counts and learned merges are bitwise the
    ones ``ta_bpe_train`` hashes), so encoding the corpus is exploding
    words and joining the vocabulary-sized dictionary — broadcast-
    sized at any corpus scale, the reason production pipelines
    pre-tokenize by word and cache encodings (word frequency follows
    Zipf; the dictionary grows Heaps-sublinearly). The per-source
    accounting hashes fertility (tokens per word) and compression vs
    the character baseline (chars + </w> per word) — the quality
    metrics tokenizer changes are judged by. Costs: the training
    chain (vocab-sized shuffles) + one word explode + one dictionary
    join + a source-keyed aggregate. r14: the corpus-cost words/s0
    stage is checkpointed once (the single-statement form re-inlined
    it into EIGHTEEN corpus scans — the plan at commit 0922401^)
    and the bound corpus is spread_scan'd on doc_id so the
    two remaining corpus explodes (word counts, docw) run parallel
    on single-row-group fixture layouts."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    s0 = _bpe_checkpoint_s0(spark, docs, keep_word=True)
    return sql(
        spark, _bpe_apply_sql("spark", s0_bound=True), s0=s0, documents=docs
    )


#: Winnowing parameters: k-gram size (tokens) and window width (number
#: of consecutive k-gram hashes a window spans). Guarantee: any shared
#: run of at least WINNOW_W + WINNOW_K - 1 tokens contributes at least
#: one COMMON selected fingerprint to both docs.
WINNOW_K = 3
WINNOW_W = 4
#: Position packing for the tie-free window minimum: candidate =
#: hash * 2^20 + kgram_index. Hash < 2^32 and index < 2^20 keep the
#: packed value < 2^52 — exact BIGINT in both engines; the min is then
#: lexicographic (value, position), i.e. leftmost-minimum tie-break
#: (the original winnowing paper picks rightmost; either is a valid
#: deterministic scheme, ours is engine-order-free by construction).
WINNOW_POS_MOD = 1 << 20


def _winnow_sql(dialect: str) -> str:
    """One SQL text per engine for the winnowing fingerprint census.
    k-gram hashes are 32-bit md5 folds of the space-joined token
    k-gram; each full window of WINNOW_W hashes selects its packed
    minimum; the per-doc fingerprint set is the distinct selected
    values."""
    if dialect == "spark":
        fold = "CAST(conv(substr(md5(kg), 1, 8), 16, 10) AS BIGINT)"
        tok = (
            "SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)"
            " FROM documents"
        )
        digest = (
            "md5(array_join(transform(array_sort(collect_set(c)),"
            " x -> CAST(x AS STRING)), '|'))"
        )
    else:
        fold = "CAST('0x' || substr(md5(kg), 1, 8) AS BIGINT)"
        tok = (
            "SELECT doc_id, unnest(string_split(text, ' ')) AS tok,"
            " generate_subscripts(string_split(text, ' '), 1) - 1 AS pos"
            " FROM documents"
        )
        digest = (
            "md5(list_aggregate(list_transform(list_sort(list(DISTINCT c)),"
            " x -> CAST(x AS VARCHAR)), 'string_agg', '|'))"
        )
    w, k = WINNOW_W, WINNOW_K
    return f"""
WITH toks AS ({tok}),
kgrams AS (
  SELECT doc_id, pos,
         tok || ' ' || LEAD(tok, 1) OVER dw || ' '
             || LEAD(tok, 2) OVER dw AS kg
  FROM toks
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
hashes AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS i,
         {fold} AS h
  FROM kgrams WHERE kg IS NOT NULL
),
packed AS (
  SELECT doc_id, i, h * {WINNOW_POS_MOD} + i AS p
  FROM hashes
),
sel AS (
  SELECT doc_id,
         MIN(p) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS c,
         i
  FROM packed
),
fps AS (
  SELECT DISTINCT doc_id, c FROM sel WHERE i >= {w - 1}
),
perdoc AS (
  SELECT f.doc_id,
         COUNT(*) AS n_fingerprints,
         {digest} AS fp_digest
  FROM fps f GROUP BY f.doc_id
),
kcount AS (
  SELECT doc_id, COUNT(*) AS n_kgrams FROM hashes GROUP BY doc_id
)
SELECT k.doc_id, k.n_kgrams,
       COALESCE(p.n_fingerprints, 0) AS n_fingerprints,
       COALESCE(p.fp_digest, '') AS fp_digest,
       round(CAST(COALESCE(p.n_fingerprints, 0) AS DOUBLE) / k.n_kgrams, 4)
         AS density
FROM kcount k LEFT JOIN perdoc p ON p.doc_id = k.doc_id
ORDER BY k.doc_id
"""


@register(
    "ta_winnowing_fingerprint",
    oracle=_winnow_sql("duckdb"),
    description="winnowing document fingerprints (MOSS): per-window"
    " minimum of k-gram hashes with positional tie-breaking, per-doc"
    " fingerprint count, sorted-set digest, and selection density —"
    " the local-similarity fingerprint scheme with a guaranteed-match"
    " window, beside the global min-hash fingerprint",
    tags=("text", "fingerprint", "winnowing"),
    bench=True,
)
def ta_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson, Aiken SIGMOD'03 — MOSS's
    scheme): slide a w-window over the k-gram hash sequence, keep each
    window's minimum; any match of length ≥ w+k-1 tokens between two
    docs then shares a selected fingerprint — a LOCAL guarantee
    ta_fingerprint's single global min cannot give, which is why
    plagiarism/mirror detection fingerprints this way. Ties break by
    packing position into the low bits (hash·2^20+i), making the
    window min total-ordered and engine-identical — no rightmost-min
    re-scan pass. Density ≈ 2/(w+1) is the scheme's expected selection
    rate; the hashed per-doc digest pins the exact fingerprint SET, so
    any drift in fold, packing, or window framing fails the driver
    hash. Shape: one doc-keyed window pass for k-grams, one for the
    running min, one distinct + aggregate — all on the same doc_id
    shuffle; nothing global, nothing quadratic. r14: the bound corpus
    is spread_scan'd on doc_id so the tokenize/explode/md5 stage
    parallelizes on single-row-group fixture layouts — the added
    exchange is the doc_id one the k-gram window needed anyway
    (measured x0.68 interleaved A/B at sf0.1)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return sql(spark, _winnow_sql("spark"), documents=docs)


@register(
    "ta_ngram_novelty",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT source, sh
  FROM (SELECT source,
               unnest({duckdb_word_shingles("string_split(text, ' ')", 3)})
                 AS sh
        FROM documents)
),
spread AS (
  SELECT sh, COUNT(*) AS n_sources FROM sh GROUP BY sh
)
SELECT s.source,
       COUNT(*) AS n_shingles,
       COUNT(CASE WHEN p.n_sources = 1 THEN 1 END) AS n_exclusive,
       round(CAST(COUNT(CASE WHEN p.n_sources = 1 THEN 1 END) AS DOUBLE)
             / COUNT(*), 4) AS exclusivity,
       round(CAST(SUM(CAST(p.n_sources AS BIGINT)) AS DOUBLE)
             / COUNT(*), 4) AS mean_spread
FROM sh s JOIN spread p ON p.sh = s.sh
GROUP BY s.source
ORDER BY s.source
""",
    description="per-source 3-gram novelty census: how many of a"
    " source's distinct shingles appear in NO other source"
    " (exclusivity) and how widely its shingles spread across sources"
    " — the bag-level provenance-overlap screen complementing the"
    " pair-level cross-source near-dup matrix",
    tags=("text", "ngram", "novelty", "provenance"),
)
def ta_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_cross_source_matrix finds sequence-level COPIES between
    source pairs; this measures bag-level OVERLAP for each source
    alone: a source whose shingles are mostly exclusive contributes
    novel text, one whose mean spread approaches the source count is
    syndicated boilerplate (and a candidate to dedup jointly or
    down-weight in the mixture). Shape: distinct (source, shingle)
    pairs — an explode that aggregates before any join — then the
    shingle-spread table joins back shingle-keyed; both sides carry
    (shingle, counts) partials, never raw documents. All counts
    exact; ratios rounded once."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source",
            F.explode(word_shingles("split(text, ' ')", 3)).alias("sh"),
        )
        .distinct()
    )
    spread = sh.groupBy("sh").agg(F.count("*").alias("n_sources"))
    return (
        sh.join(spread, "sh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("n_sources") == 1, 1)).alias(
                "n_exclusive"
            ),
            F.round(
                F.count(F.when(F.col("n_sources") == 1, 1)).cast("double")
                / F.count("*"),
                4,
            ).alias("exclusivity"),
            F.round(
                F.sum(F.col("n_sources").cast("bigint")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_spread"),
        )
        .orderBy("source")
    )


#: Weighted-sample size per source (Efraimidis–Spirakis k).
ES_K = 3


def _es_sample_sql(dialect: str) -> str:
    """Efraimidis–Spirakis weighted sampling without replacement, with
    the md5 fold standing in for the uniform draw: rank by
    ln(u)/weight descending, keep the top ES_K per source. Weight =
    n_chars, so selection probability tilts toward longer docs while
    staying fully deterministic and engine-identical."""
    if dialect == "spark":
        fold = (
            "CAST(conv(substr(md5(concat('es:', CAST(doc_id AS STRING))),"
            " 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        fold = (
            "CAST('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)),"
            " 1, 8) AS BIGINT)"
        )
    return f"""
WITH keyed AS (
  -- zero/NULL-weight docs are EXCLUDED, not keyed: ES gives weight-0
  -- rows selection probability 0 (key -> -inf), and an explicit gate
  -- is engine-identical where a NULL key's rank order is not (the
  -- two engines default NULL ordering differently under DESC)
  SELECT source, doc_id, n_chars,
         ln(({fold} + 1) / 4294967296.0) / n_chars AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars, es_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY es_key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT source, rnk, doc_id, n_chars, round(es_key, 8) AS es_key
FROM ranked
WHERE rnk <= {ES_K}
ORDER BY source, rnk
"""


@register(
    "ta_weighted_sample_es",
    oracle=_es_sample_sql("duckdb"),
    description="weighted sampling without replacement"
    " (Efraimidis-Spirakis): per-source top-3 docs by ln(u)/weight"
    " with the md5 fold as the uniform draw — selection probability"
    " proportional to doc length, zero RNG, engine-identical picks",
    tags=("text", "sampling", "weighted", "training"),
)
def ta_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ta_stratified_sample draws UNIFORMLY within strata; mixture
    construction usually wants probability ∝ weight (tokens, quality
    score). Efraimidis-Spirakis (2006) reduces weighted sampling
    without replacement to a per-row key — u^(1/w), here the
    monotone-equivalent ln(u)/w — and a top-k; the 'uniform' u is the
    md5 fold of the doc id (+1, normalized to (0,1]), which keeps the
    draw deterministic, reproducible across engines and runs, and
    re-derivable row-locally at 100 TB (no RNG state to coordinate
    across executors — the same no-rand discipline every sampler here
    follows). One narrow scan computes keys; the per-source top-k is
    a keyed rank window; ln of an exact integer ratio is
    engine-identical IEEE, so even the rounded key column hashes."""
    text = _es_sample_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


_LEN_DRIFT_SQL = """
WITH pc AS (
  -- n_chars IS NOT NULL: a doc with no length has no place in a
  -- length CDF (NULL v sorts FIRST in Spark's prefix window, LAST in
  -- DuckDB's, shifting every cumulative count differently)
  SELECT source, n_chars AS v, COUNT(*) AS c
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY source, n_chars
),
vals AS (SELECT DISTINCT v FROM pc),
srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src
         FROM pc GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM pc),
vtot AS (
  SELECT v,
         CAST(SUM(SUM(c)) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_all
  FROM pc GROUP BY v
),
grid AS (
  SELECT s.source, s.n_src, va.v, COALESCE(p.c, 0) AS c
  FROM srcs s CROSS JOIN vals va
  LEFT JOIN pc p ON p.source = s.source AND p.v = va.v
),
cums AS (
  SELECT source, n_src, v,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_src
  FROM grid
),
d AS (
  SELECT c.source, c.n_src, t.n_all,
         MAX(ABS(CAST(c.cum_src AS DOUBLE) / c.n_src
                 - CAST(vt.cum_all - c.cum_src AS DOUBLE)
                   / (t.n_all - c.n_src))) AS ks_d
  FROM cums c
  JOIN vtot vt ON vt.v = c.v
  CROSS JOIN tot t
  GROUP BY c.source, c.n_src, t.n_all
)
SELECT source, n_src,
       CAST(n_all - n_src AS BIGINT) AS n_rest,
       round(ks_d, 6) AS ks_d,
       ks_d > 1.36 * sqrt(CAST(n_all AS DOUBLE)
                          / (CAST(n_src AS DOUBLE) * (n_all - n_src)))
         AS drifted_95
FROM d
ORDER BY source
"""


@register(
    "ta_length_drift",
    oracle=_LEN_DRIFT_SQL,
    description="per-source length-distribution drift monitor:"
    " two-sample KS of each source's doc-length distribution against"
    " the REST of the corpus from exact prefix counts over the"
    " distinct-length grid, with the 95% drift verdict — the feed"
    " health check that catches a source whose content changed shape",
    tags=("text", "quality", "drift", "ks"),
)
def ta_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A feed that silently switched formats (truncation, boilerplate
    injection, different extraction) changes its LENGTH DISTRIBUTION
    before anything semantic shows — the standard cheap drift screen.
    Each source is KS-tested against the rest of the corpus
    (leave-one-out, so a big source can't hide inside its own
    baseline): per-(source, length) counts build per-source CDFs on a
    shared distinct-length grid (zero-filled by construction, so
    every source's prefix is total), the corpus CDF rides ONE prefix
    window over distinct lengths — allowlisted bounded-global: its
    input is the distinct-length table, bounded by max doc length,
    never corpus rows — and D evaluates only at observed lengths
    (exact: the CDF difference is constant between steps). The rest-
    CDF is (cum_all − cum_src)/(n_all − n_src) — exact integers until
    the final rounded division. Same 1.36·sqrt critical value (with
    the double-cast product guard) as ev_ks_test."""
    return sql(
        spark, _LEN_DRIFT_SQL, documents=load_table(spark, sf_dir, "documents")
    )


#: Needles for the trigram-index substring-search audit: two present in
#: the fixture word-soup (27 / 35 truth docs at sf0.01) and one absent,
#: so the index's empty-result path is exercised too.
TRGM_NEEDLES = ("scan slow", "window sort", "quantum flux")


def _trgm_sql(dialect: str) -> str:
    """Trigram-index substring search (the pg_trgm plan shape): docs
    whose text contains EVERY character trigram of the needle are the
    index candidates; instr() is the exact truth. The contract hashed
    per needle: candidates ⊇ truth (n_missed = 0), false positives
    counted honestly."""
    needles = ", ".join(f"('{n}')" for n in TRGM_NEEDLES)
    if dialect == "duckdb":
        doc_tri = (
            "SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, greatest(length(text) - 2, 0) + 1), "
            "i -> substr(text, CAST(i AS INT), 3)))) AS tg FROM documents"
        )
        needle_tri = (
            "SELECT needle, unnest(list_distinct(list_transform("
            "range(1, greatest(length(needle) - 2, 0) + 1), "
            "i -> substr(needle, CAST(i AS INT), 3)))) AS tg FROM needles"
        )
    else:
        # Spark sequence(1, 0) DESCENDS — the CASE guard keeps empty
        # inputs empty (registry determinism note).
        doc_tri = (
            "SELECT doc_id, explode(array_distinct(transform("
            "CASE WHEN length(text) >= 3 THEN sequence(1, length(text) - 2)"
            " ELSE array() END, "
            "i -> substr(text, i, 3)))) AS tg FROM documents"
        )
        needle_tri = (
            "SELECT needle, explode(array_distinct(transform("
            "CASE WHEN length(needle) >= 3"
            " THEN sequence(1, length(needle) - 2) ELSE array() END, "
            "i -> substr(needle, i, 3)))) AS tg FROM needles"
        )
    return f"""
WITH needles AS (SELECT * FROM (VALUES {needles}) AS n(needle)),
doc_tri AS ({doc_tri}),
needle_tri AS ({needle_tri}),
needle_size AS (
  SELECT needle, COUNT(*) AS n_trigrams FROM needle_tri GROUP BY needle
),
cands AS (
  SELECT t.needle, d.doc_id
  FROM doc_tri d
  JOIN needle_tri t ON t.tg = d.tg
  GROUP BY t.needle, d.doc_id
  HAVING COUNT(*) = (SELECT MAX(n_trigrams) FROM needle_size s
                     WHERE s.needle = t.needle)
),
truth AS (
  SELECT n.needle, d.doc_id
  FROM documents d JOIN needles n ON instr(d.text, n.needle) > 0
),
per_needle AS (
  SELECT c.needle,
         COUNT(*) AS n_candidates,
         COUNT(t.doc_id) AS n_verified
  FROM cands c
  LEFT JOIN truth t ON t.needle = c.needle AND t.doc_id = c.doc_id
  GROUP BY c.needle
),
missed AS (
  SELECT t.needle, COUNT(*) AS n_missed
  FROM truth t
  LEFT JOIN cands c ON c.needle = t.needle AND c.doc_id = t.doc_id
  WHERE c.doc_id IS NULL
  GROUP BY t.needle
)
SELECT s.needle, s.n_trigrams,
       COALESCE(p.n_candidates, 0) AS n_candidates,
       COALESCE(p.n_verified, 0) AS n_verified,
       COALESCE(p.n_candidates, 0) - COALESCE(p.n_verified, 0)
         AS n_false_pos,
       COALESCE(m.n_missed, 0) AS n_missed
FROM needle_size s
LEFT JOIN per_needle p ON p.needle = s.needle
LEFT JOIN missed m ON m.needle = s.needle
ORDER BY s.needle
"""


@register(
    "ta_trigram_index_search",
    oracle=_trgm_sql("duckdb"),
    description="trigram-index substring search (the pg_trgm plan):"
    " candidate docs = those containing every character trigram of the"
    " needle via an inverted trigram index join, exact instr() verifies"
    " — per needle the candidate/verified/false-positive counts and the"
    " hashed n_missed = 0 no-false-negative guarantee",
    tags=("text", "search", "index", "audit"),
)
def ta_trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE '%needle%' cannot use a sorted index — the pg_trgm answer
    is an inverted index on character trigrams: a doc can contain the
    needle only if it contains every trigram of the needle, so the
    search probes |needle|-2 index keys and intersects posting lists
    (here: one (tg)-keyed join + a per-(needle,doc) count), then the
    exact instr() check runs on candidates only. At 100 TB the index
    is built once at ingest (doc_id, trigram) and the probe touches
    only the needle's trigram keys — never a corpus regex scan. The
    hashed contract: n_missed = 0 (trigram containment is NECESSARY
    for substring match — no false negatives, ever), while
    n_false_pos stays honest about precision. The absent needle
    exercises the empty-result path through the same plan."""
    text = _trgm_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Collocation mining: minimum pair count and the result cap.
PMI_MIN_COUNT = 5
PMI_TOP_N = 20


def _pmi_sql(dialect: str) -> str:
    """PMI over adjacent-token bigrams with marginals taken from the
    bigram table itself (first-position / second-position counts, the
    ev_mutual_information convention): ln of a ratio of exact BIGINTs,
    rounded 6, and the ROUNDED value is the sort key."""
    if dialect == "spark":
        tok = ("SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)"
               " FROM documents")
    else:
        tok = ("SELECT doc_id, unnest(string_split(text, ' ')) AS w,"
               " generate_subscripts(string_split(text, ' '), 1) AS pos"
               " FROM documents")
    return f"""
WITH tok AS ({tok}),
bi AS (
  SELECT w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
),
m1 AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM bg GROUP BY w1),
m2 AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM bg GROUP BY w2),
tot AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM bg)
SELECT b.w1, b.w2, b.c_xy,
       round(ln((t.n * b.c_xy) / (CAST(m1.c_x AS DOUBLE) * m2.c_y)), 6)
         AS pmi
FROM bg b
JOIN m1 ON m1.w1 = b.w1
JOIN m2 ON m2.w2 = b.w2
CROSS JOIN tot t
WHERE b.c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, b.w1, b.w2
LIMIT {PMI_TOP_N}
"""


@register(
    "ta_pmi_collocations",
    oracle=_pmi_sql("duckdb"),
    description="PMI-ranked collocations: pointwise mutual information"
    " over adjacent-token bigrams (positional marginals, min count"
    f" {PMI_MIN_COUNT}) — the association-strength ranking that"
    " separates true collocations from merely frequent pairs"
    " (ta_bigram_top's count ranking), top-20 by rounded PMI",
    tags=("text", "ngram", "stats", "topk"),
)
def ta_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw bigram counts (ta_bigram_top) surface pairs of common
    words; PMI = ln(N·c_xy / (c_x·c_y)) normalizes away the
    marginals, surfacing pairs that co-occur far more than chance —
    the classic collocation statistic (Church & Hanks '90). Marginals
    come from the bigram table's own first/second-position sums (the
    ev_mutual_information convention), so the whole operator is the
    bigram shuffle plus two vocabulary-sized marginal joins; the
    min-count filter is applied before the join (the candidate set at
    100 TB is the frequent-bigram sliver, not the Zipf tail). PMI is
    one ln of a ratio of exact BIGINTs — IEEE-deterministic — rounded
    6, and the rounded value is the sort key with (w1, w2) breaking
    ties; TakeOrdered carries k rows to the driver, never the
    vocabulary."""
    text = _pmi_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: TextRank: damping, unrolled iterations, and the keyword cap.
TR_DAMPING = 0.85
TR_ITERS = 3
TR_TOP_N = 10


def _textrank_sql(dialect: str) -> str:
    """Weighted PageRank over the adjacent-token co-occurrence graph
    (Mihalcea & Tarau '04), with graphs.py's determinism discipline:
    per-edge contributions rounded 9 then decimal-summed, final rank
    rounded 6 as the sort key."""
    if dialect == "spark":
        tok = ("SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)"
               " FROM documents")
    else:
        tok = ("SELECT doc_id, unnest(string_split(text, ' ')) AS w,"
               " generate_subscripts(string_split(text, ' '), 1) AS pos"
               " FROM documents")
    d, n_ = TR_DAMPING, "nn.n"
    iters = []
    for i in range(1, TR_ITERS + 1):
        iters.append(f""",
c{i} AS (
  SELECT e.b AS word,
         CAST(SUM(CAST(round(r.rank * e.w / wo.wtot, 9)
                       AS DECIMAL(19,9))) AS DOUBLE) AS s
  FROM edges e
  JOIN r{i - 1} r ON r.word = e.a
  JOIN wout wo ON wo.a = e.a
  GROUP BY e.b
),
r{i} AS (
  SELECT c.word,
         CAST({1 - d} AS DOUBLE) / {n_} + CAST({d} AS DOUBLE) * c.s AS rank
  FROM c{i} c CROSS JOIN nn
)""")
    return f"""
WITH tok AS ({tok}),
bi AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bi2 AS (SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL),
edges AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT w1 AS a, w2 AS b FROM bi2
        UNION ALL SELECT w2, w1 FROM bi2) u
  GROUP BY a, b
),
wout AS (SELECT a, CAST(SUM(w) AS BIGINT) AS wtot FROM edges GROUP BY a),
nodes AS (SELECT DISTINCT a AS word FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT a AS word, CAST(COUNT(*) AS BIGINT) AS n_neighbors
        FROM edges GROUP BY a),
r0 AS (
  SELECT word, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn
){"".join(iters)}
SELECT r.word, round(r.rank, 6) AS textrank, deg.n_neighbors
FROM r{TR_ITERS} r JOIN deg ON deg.word = r.word
ORDER BY textrank DESC, r.word
LIMIT {TR_TOP_N}
"""


@register(
    "ta_textrank_keywords",
    oracle=_textrank_sql("duckdb"),
    description="TextRank keyword extraction (Mihalcea & Tarau '04):"
    f" weighted PageRank ({TR_ITERS} unrolled iterations, damping"
    f" {TR_DAMPING}) over the adjacent-token co-occurrence graph —"
    f" top-{TR_TOP_N} corpus keywords by rounded rank, the"
    " graph-centrality ranking that beats raw frequency when common"
    " words hub differently",
    tags=("text", "graph", "keywords", "iterative"),
)
def ta_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank scores a word by the rank of its neighbors, not its
    count — the difference between a hub of the co-occurrence graph
    and a merely frequent token. The graph is VOCABULARY-sized
    (Heaps-sublinear; a domain-bounded 31 nodes on this fixture), so
    after the one corpus-sized bigram shuffle every iteration is a
    broadcast-scale weighted matrix-vector product — identical cost
    shape to ev_pagerank_types, whose determinism discipline this
    reuses verbatim: per-edge contributions are double math rounded 9,
    summed as DECIMAL(19,9) (exact, order-free), damped outside the
    sum, final rank rounded 6 as the sort key with the word breaking
    ties. Symmetrized adjacency (each bigram contributes both
    directions) makes wtot the weighted degree, as in the paper."""
    text = _textrank_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: DoReMi-lite: multiplicative-weights step size on the excess-loss
#: exponent.
DOREMI_ETA = 1.0


def _doremi_sql(dialect: str) -> str:
    """One multiplicative-weights domain-reweighting step: per-source
    mean unigram surprisal as the proxy loss, token share as the
    baseline weight, w ∝ w0·exp(η·excess). The exp argument is
    rounded 8 first (transcendental discipline), the unnormalized
    weights rounded 8 and decimal-summed for the normalizer."""
    if dialect == "spark":
        tok = ("SELECT doc_id, explode(split(text, ' ')) AS t"
               " FROM documents")
    else:
        tok = ("SELECT doc_id, unnest(string_split(text, ' ')) AS t"
               " FROM documents")
    return f"""
WITH tok AS ({tok}),
tf AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM tf),
surprisal AS (
  SELECT tok.doc_id,
         CAST(round(ln(tot.n / CAST(tf.cnt AS DOUBLE)), 8)
              AS DECIMAL(18,8)) AS s
  FROM tok JOIN tf ON tf.t = tok.t CROSS JOIN tot
),
src AS (
  SELECT d.source,
         CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(SUM(p.s) AS DOUBLE) / COUNT(*), 6) AS loss
  FROM surprisal p JOIN documents d ON d.doc_id = p.doc_id
  GROUP BY d.source
),
alltok AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS n,
                  round(CAST(SUM(CAST(loss AS DECIMAL(18,6)) * n_tokens)
                             AS DOUBLE)
                        / SUM(n_tokens), 6) AS mean_loss
           FROM src),
step AS (
  SELECT s.source, s.n_docs, s.n_tokens, s.loss,
         round(s.n_tokens / a.n, 6) AS w0,
         round(GREATEST(CAST(0 AS DOUBLE), s.loss - a.mean_loss), 8)
           AS excess
  FROM src s CROSS JOIN alltok a
),
unnorm AS (
  SELECT source, n_docs, n_tokens, loss, w0, excess,
         CAST(round(w0 * exp({DOREMI_ETA} * excess), 8)
              AS DECIMAL(18,8)) AS u
  FROM step
),
z AS (SELECT SUM(u) AS z FROM unnorm)
SELECT un.source, un.n_docs, un.n_tokens, un.loss,
       un.w0, round(un.excess, 6) AS excess_loss,
       round(CAST(un.u AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS w_next
FROM unnorm un CROSS JOIN z
ORDER BY un.source
"""


@register(
    "ta_doremi_step",
    oracle=_doremi_sql("duckdb"),
    description="DoReMi-style domain reweighting, one multiplicative-"
    "weights step: per-source proxy loss (mean unigram surprisal),"
    " token-share baseline weights, w ∝ w0·exp(η·excess-loss),"
    " renormalized — the mixture update that upweights domains the"
    " model finds hard, hashed per source",
    tags=("text", "mixture", "training", "lm"),
)
def ta_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi (Xie et al. '23) tunes pretraining mixture weights by
    running multiplicative-weights updates on per-domain EXCESS loss;
    one step of that update is a pure aggregation: per-source
    token-weighted mean surprisal (the cheap proxy for the reference-
    model loss — ta_unigram_logprob's exact-decimal machinery), the
    corpus mean, hinged excess, and w0·exp(η·excess) renormalized.
    Determinism: the exp ARGUMENT is a rounded-6/8 quantity of exact
    decimal sums, the exp OUTPUT is rounded 8 and decimal-summed for
    the normalizer, and the final weights are one double division
    rounded 6 — the same transcendental discipline as
    ev_mutual_information. Against ta_mix_temperature (which flattens
    by SIZE alone), this is the loss-aware counterpart; both are one
    source-keyed aggregate over corpus-sized input."""
    text = _doremi_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Feature-hashing audit dimensions (the hashing-trick width sweep).
FH_DIMS = (8, 16, 32)


def _feature_hash_sql(dialect: str) -> str:
    """Hashing-trick collision census per width: every DISTINCT doc
    token hashes to md5('fh:'||t) % D; per-doc collision rate =
    1 − nnz/distinct, averaged exactly (each rate is a ratio of small
    ints rounded 8 then decimal-summed)."""
    if dialect == "spark":
        tok = ("SELECT DISTINCT doc_id, explode(split(text, ' ')) AS t"
               " FROM documents")
        fold = ("CAST(conv(substr(md5(concat('fh:', t)), 1, 8), 16, 10)"
                " AS BIGINT)")
    else:
        tok = ("SELECT DISTINCT doc_id,"
               " unnest(string_split(text, ' ')) AS t FROM documents")
        fold = "CAST('0x' || substr(md5('fh:' || t), 1, 8) AS BIGINT)"
    blocks = []
    for d in FH_DIMS:
        blocks.append(f"""
SELECT {d} AS n_dims,
       (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS vocab_size,
       (SELECT CAST(COUNT(DISTINCT {fold} % {d}) AS BIGINT) FROM tok)
         AS n_dims_used,
       round(CAST(SUM(CAST(rate AS DECIMAL(18,8))) AS DOUBLE)
             / COUNT(*), 6) AS mean_doc_collision_rate
FROM (
  SELECT doc_id,
         round(1.0 - CAST(COUNT(DISTINCT {fold} % {d}) AS DOUBLE)
                     / COUNT(DISTINCT t), 8) AS rate
  FROM tok GROUP BY doc_id
) per_doc""")
    return f"WITH tok AS ({tok})" + "\nUNION ALL\n".join(blocks) + \
        "\nORDER BY n_dims"


@register(
    "ta_feature_hashing",
    oracle=_feature_hash_sql("duckdb"),
    description="hashing-trick featurization audit (Weinberger et al."
    " '09): distinct doc tokens hashed into 8/16/32 dims — dims"
    " actually used and the mean per-doc collision rate per width,"
    " the dimensionality-vs-collision trade every hashed"
    " bag-of-words feature pipeline picks, hashed as a three-point"
    " curve",
    tags=("text", "features", "hashing", "ml"),
)
def ta_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick replaces a vocabulary dictionary with
    hash(t) % D — no vocab build, no OOV, bounded width — at the
    price of collisions that fold unrelated tokens onto one feature.
    The audit measures that price on this corpus across three
    widths: per-doc collision rate (1 − nonzero-dims/distinct-tokens,
    exact small-int ratios rounded 8 and decimal-averaged) and the
    global dims-used count. The md5 fold is the same cross-engine
    32-bit hash every dd_*/sampling op uses, so the feature MAP
    itself — not just the census — is engine-identical: the logreg
    scorer (ta_logreg_quality) could consume these features
    byte-for-byte on either engine. Cost per width: one distinct
    (doc, token) explode (shared) + a doc-keyed aggregate; the
    widths are unrolled columns of the same scan, not three passes
    over the corpus."""
    text = _feature_hash_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Kneser-Ney absolute discount.
KN_DISCOUNT = 0.75


def _kn_sql(dialect: str) -> str:
    """Interpolated Kneser-Ney bigram LM: absolute discount on the
    bigram count, continuation probability from distinct LEFT
    contexts. Every probability is a ratio of exact integers (plus
    the fixed discount); the per-bigram surprisal is rounded 8 and
    decimal-summed, as in ta_bigram_logprob."""
    if dialect == "spark":
        tok = ("SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w)"
               " FROM documents")
    else:
        tok = ("SELECT doc_id, unnest(string_split(text, ' ')) AS w,"
               " generate_subscripts(string_split(text, ' '), 1) AS pos"
               " FROM documents")
    d = KN_DISCOUNT
    return f"""
WITH tok AS ({tok}),
bi AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bi2 AS (SELECT doc_id, w1, w2 FROM bi WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
       FROM bi2 GROUP BY w1, w2),
cx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c_x,
              CAST(COUNT(*) AS BIGINT) AS n1p_fwd
       FROM bg GROUP BY w1),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_back
         FROM bg GROUP BY w2),
types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM bg),
s AS (
  SELECT b.doc_id,
         CAST(round(-ln(
           (bg.c - {d}) / cx.c_x
           + ({d} * cx.n1p_fwd / cx.c_x)
             * (co.n1p_back / t.n_types)
         ), 8) AS DECIMAL(18,8)) AS s
  FROM bi2 b
  JOIN bg ON bg.w1 = b.w1 AND bg.w2 = b.w2
  JOIN cx ON cx.w1 = b.w1
  JOIN cont co ON co.w2 = b.w2
  CROSS JOIN types t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal_kn,
       round(exp(CAST(SUM(s) AS DOUBLE) / COUNT(*)), 4) AS ppl_kn
FROM s
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "ta_kneser_ney_bigram",
    oracle=_kn_sql("duckdb"),
    description="interpolated Kneser-Ney bigram LM surprisal and"
    f" perplexity per document (absolute discount {KN_DISCOUNT},"
    " continuation probability from distinct left contexts) — the"
    " smoothing that models how WIDELY a word appears, not how often,"
    " beside ta_bigram_logprob's add-1 baseline",
    tags=("text", "quality", "lm", "bigram"),
)
def ta_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1 smoothing (ta_bigram_logprob) over-penalizes frequent
    contexts; Kneser-Ney — the de-facto n-gram smoothing — discounts
    every seen bigram by a fixed d and backs off to the CONTINUATION
    probability (in how many distinct left contexts does w2 appear?),
    which is why 'Francisco' scores low despite being frequent: it
    follows only 'San'. All four statistics (bigram counts, left
    totals + distinct continuations, right context diversity, type
    count) are vocabulary-sized partial aggregations off ONE bigram
    shuffle; the probability is a per-row double of exact-int ratios
    (c ≥ 1 in the bigram table, so c − d > 0 and the discounted term
    needs no max()), surprisal rounded 8 and decimal-summed per doc.
    Same output shape as the add-1 baseline so the two models'
    per-doc perplexities compare row for row."""
    text = _kn_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))
