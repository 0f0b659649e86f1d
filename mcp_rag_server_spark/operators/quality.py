"""Corpus-quality and mixture-planning operators (round-4 additions to
the LLM-data-pipeline surface).

Four production shapes a 100 TB training-data pipeline runs between raw
crawl and tokenizer:

- ``ta_gopher_rules``: the per-rule rejection census of a Gopher/C4-style
  filter battery (which rule drops how many docs per source) — the audit
  that precedes any bulk filter deploy.
- ``ta_unigram_logprob``: CCNet-style mean token surprisal under a
  corpus-wide unigram LM — the cheap perplexity proxy used to rank and
  filter documents before an expensive LM-perplexity pass.
- ``ta_mix_temperature``: temperature-scaled source weights
  (w_i ∝ n_i^(1/T), here sqrt = T=2) — the mixture-flattening rule
  multilingual/multi-source training runs use so small sources are not
  drowned out.
- ``ta_shard_assign``: deterministic md5-bucket shard assignment with
  per-shard balance stats — the reproducible "global shuffle" that
  replaces rand() sharding (any engine, any partitioning: same shards).

All four are pure JVM-side expressions (no UDFs): per-row array math in
whole-stage codegen, aggregations as partial-agg shuffles on small keys
(source, shard, token), never on documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, sql
from mcp_rag_server_spark.operators.textanalysis import STOPWORDS, _SW_SQL
from mcp_rag_server_spark.registry import register

#: Gopher-style rule thresholds, tuned to be non-vacuous on the fixture
#: word-soup (sf0.01: 169 short, ~6 word-length, 281 diversity, 47
#: no-stopword failures out of 500 — every rule fires, none rejects
#: everything).
RULE_MIN_TOKENS = 40
RULE_MAX_TOKENS = 90
RULE_MIN_MEAN_WORDLEN = 4.0
RULE_MAX_MEAN_WORDLEN = 7.0
RULE_MIN_DISTINCT_RATIO = 0.5

#: Mean word length is derived exactly from (n_chars, n_tokens) because
#: the fixture text is single-space-separated: chars in words =
#: n_chars - (n_tokens - 1).
_MW_SQL = "(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens)"


@register(
    "ta_gopher_rules",
    oracle=f"""
WITH feat AS (
  SELECT source,
         len(toks) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
         len(list_filter(toks, t -> t IN {_SW_SQL})) AS n_stop,
         n_chars
  FROM (SELECT source, n_chars, string_split(text, ' ') AS toks FROM documents)
),
flagged AS (
  SELECT source,
         CASE WHEN n_tokens < {RULE_MIN_TOKENS} THEN 1 ELSE 0 END AS f_short,
         CASE WHEN n_tokens > {RULE_MAX_TOKENS} THEN 1 ELSE 0 END AS f_long,
         CASE WHEN {_MW_SQL} < {RULE_MIN_MEAN_WORDLEN}
                OR {_MW_SQL} > {RULE_MAX_MEAN_WORDLEN} THEN 1 ELSE 0 END
           AS f_wordlen,
         CASE WHEN distinct_ratio < {RULE_MIN_DISTINCT_RATIO} THEN 1 ELSE 0 END
           AS f_diversity,
         CASE WHEN n_stop = 0 THEN 1 ELSE 0 END AS f_nostop
  FROM feat
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(f_short) AS BIGINT) AS n_fail_short,
       CAST(SUM(f_long) AS BIGINT) AS n_fail_long,
       CAST(SUM(f_wordlen) AS BIGINT) AS n_fail_wordlen,
       CAST(SUM(f_diversity) AS BIGINT) AS n_fail_diversity,
       CAST(SUM(f_nostop) AS BIGINT) AS n_fail_nostop,
       CAST(SUM(CASE WHEN f_short + f_long + f_wordlen + f_diversity
                          + f_nostop = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass
FROM flagged
GROUP BY source
ORDER BY source
""",
    description="Gopher-style filter-rule census per source: how many docs"
    " each rule (too short/long, word-length band, lexical diversity,"
    " no-stopword) rejects, and how many pass all — the audit run before"
    " deploying a bulk quality filter",
    tags=("text", "quality", "filter"),
    bench=True,
)
def ta_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule battery in the style of Gopher's document filters (Rae et
    al. 2021, public) and C4's heuristics: length bounds, mean-word-
    length band, lexical diversity floor, must-contain-stopword. The
    census (per-rule counts, not just pass/fail) is what a pipeline
    operator actually reviews before enabling a filter at 100 TB — a
    rule that rejects 60% of one source is a bug, not a filter. One
    narrow pass computes all features; one partial-agg shuffle on
    ``source``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    feat = docs.select(
        "source",
        n.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias(
            "distinct_ratio"
        ),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
        "n_chars",
    )
    mw = F.expr(_MW_SQL)
    flagged = feat.select(
        "source",
        F.when(F.col("n_tokens") < RULE_MIN_TOKENS, 1).otherwise(0).alias(
            "f_short"
        ),
        F.when(F.col("n_tokens") > RULE_MAX_TOKENS, 1).otherwise(0).alias(
            "f_long"
        ),
        F.when(
            (mw < RULE_MIN_MEAN_WORDLEN) | (mw > RULE_MAX_MEAN_WORDLEN), 1
        )
        .otherwise(0)
        .alias("f_wordlen"),
        F.when(F.col("distinct_ratio") < RULE_MIN_DISTINCT_RATIO, 1)
        .otherwise(0)
        .alias("f_diversity"),
        F.when(F.col("n_stop") == 0, 1).otherwise(0).alias("f_nostop"),
    )
    all_rules = (
        F.col("f_short")
        + F.col("f_long")
        + F.col("f_wordlen")
        + F.col("f_diversity")
        + F.col("f_nostop")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_short").alias("n_fail_short"),
            F.sum("f_long").alias("n_fail_long"),
            F.sum("f_wordlen").alias("n_fail_wordlen"),
            F.sum("f_diversity").alias("n_fail_diversity"),
            F.sum("f_nostop").alias("n_fail_nostop"),
            F.sum(F.when(all_rules == 0, 1).otherwise(0)).alias("n_pass"),
        )
        .orderBy("source")
    )


@register(
    "ta_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM tf),
surprisal AS (
  SELECT tok.doc_id,
         CAST(round(ln(tot.n / CAST(tf.cnt AS DOUBLE)), 8)
              AS DECIMAL(18,8)) AS s
  FROM tok JOIN tf USING (t) CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal
FROM surprisal
GROUP BY doc_id
ORDER BY doc_id
""",
    description="mean token surprisal under a corpus-wide unigram LM"
    " (CCNet-style perplexity proxy): rank documents by how 'surprising'"
    " their tokens are — the cheap first-stage quality ranking before an"
    " expensive LM-perplexity pass",
    tags=("text", "quality", "lm"),
)
def ta_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surprisal(t) = ln(N / count(t)); a doc's mean surprisal is high
    when its tokens are rare corpus-wide (CCNet uses a real LM; the
    unigram proxy is the standard cheap tier). Shape: one explode →
    token-count partial agg (shuffles (token, count), never docs) →
    broadcast the tiny vocab back → per-doc agg. Cross-engine
    determinism: each token's surprisal is rounded to 8 decimals then
    summed as DECIMAL (exact, order-independent), so the mean is
    bit-identical regardless of aggregation order."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    tf = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    total = tf.agg(F.sum("cnt").cast("double").alias("n"))
    surprisal = (
        tok.join(F.broadcast(tf), "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n") / F.col("cnt").cast("double")), 8
            )
            .cast("decimal(18,8)")
            .alias("s"),
        )
    )
    return (
        surprisal.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("s").cast("double") / F.count("*"), 6
            ).alias("mean_surprisal"),
        )
        .orderBy("doc_id")
    )


#: Temperature-mix batch size: expected docs per epoch of B samples.
MIX_BATCH = 1000


@register(
    "ta_mix_temperature",
    oracle=f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(round(sqrt(COUNT(*)), 6) AS DECIMAL(18,6)) AS srt
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_docs) AS DOUBLE) AS n_total,
         CAST(SUM(srt) AS DOUBLE) AS srt_total
  FROM per_src
)
SELECT p.source,
       p.n_docs,
       round(p.n_docs / t.n_total, 6) AS raw_share,
       round(CAST(p.srt AS DOUBLE) / t.srt_total, 6) AS temp_share,
       CAST(round({MIX_BATCH} * CAST(p.srt AS DOUBLE) / t.srt_total, 0)
            AS BIGINT) AS expected_docs
FROM per_src p CROSS JOIN tot t
ORDER BY p.source
""",
    description="temperature-scaled mixture weights per source"
    " (w ∝ sqrt(n), i.e. T=2 flattening): raw vs flattened share and"
    " expected docs per 1000-sample epoch — the mixture-planning rule"
    " multilingual training uses so small sources are not drowned out",
    tags=("text", "mixture", "sampling"),
)
def ta_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w_i = n_i^(1/T) / Σ n_j^(1/T) with T=2 (sqrt — the flattening
    used by multilingual BERT/T5-style mixing, public). Determinism:
    sqrt(n) is IEEE-correctly-rounded in both engines; it is rounded to
    6 decimals and summed as DECIMAL so the normalizing total is exact
    and order-independent; the final shares divide identical doubles.
    Cost: one partial-agg shuffle on source, then a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sqrt(F.count("*")), 6).cast("decimal(18,6)").alias("srt"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("double").alias("n_total"),
        F.sum("srt").cast("double").alias("srt_total"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("raw_share"),
            F.round(
                F.col("srt").cast("double") / F.col("srt_total"), 6
            ).alias("temp_share"),
            F.round(
                MIX_BATCH * F.col("srt").cast("double") / F.col("srt_total"), 0
            )
            .cast("long")
            .alias("expected_docs"),
        )
        .orderBy("source")
    )


#: Shard count for deterministic sharding.
N_SHARDS = 16

_SHARD_SPARK = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
    f" AS BIGINT) % {N_SHARDS}"
)
_SHARD_DUCK = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    f" AS BIGINT) % {N_SHARDS}"
)


@register(
    "ta_shard_assign",
    oracle=f"""
WITH sharded AS (
  SELECT {_SHARD_DUCK} AS shard,
         doc_id,
         source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM sharded
GROUP BY shard
ORDER BY shard
""",
    description=f"deterministic md5-bucket shard assignment ({N_SHARDS}"
    " shards) with per-shard balance stats (docs, tokens, source spread)"
    " — the reproducible global shuffle training-data layout uses instead"
    " of rand()",
    tags=("text", "sampling", "sharding"),
)
def ta_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard = fold(md5(doc_id)) mod N — a pure function of the row, so
    the same doc lands in the same shard on any engine, any
    partitioning, any day (the property rand()-based shuffles lack, and
    the reason reproducible-training pipelines shard by hash). The
    balance stats are the acceptance check: near-uniform docs/tokens
    per shard and full source spread. At 100 TB this column IS the
    repartition/write-partition key; here one partial-agg shuffle on
    the 16 shard keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.expr(_SHARD_SPARK).alias("shard"),
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


#: Corpus-prefix cutoffs for the vocabulary-growth curve (doc_id order).
VOCAB_CUTOFFS = (100, 200, 300, 400, 500)


@register(
    "ta_vocab_growth",
    oracle=f"""
WITH cut AS (SELECT unnest([{", ".join(map(str, VOCAB_CUTOFFS))}]) AS cutoff),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
first_seen AS (SELECT t, MIN(doc_id) AS first_doc FROM tok GROUP BY t),
vocab AS (
  SELECT c.cutoff, COUNT(*) AS vocab_size
  FROM first_seen f JOIN cut c ON f.first_doc < c.cutoff
  GROUP BY c.cutoff
),
vol AS (
  SELECT c.cutoff,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens
  FROM documents d JOIN cut c ON d.doc_id < c.cutoff
  GROUP BY c.cutoff
)
SELECT v.cutoff,
       vol.n_docs,
       vol.total_tokens,
       v.vocab_size,
       round(CAST(v.vocab_size AS DOUBLE) / vol.total_tokens, 6)
         AS type_token_ratio
FROM vocab v JOIN vol USING (cutoff)
ORDER BY v.cutoff
""",
    description="vocabulary-growth (Heaps'-law) curve: distinct-token"
    " count and type-token ratio at increasing corpus prefixes — the"
    " audit that sizes tokenizer vocabulary and predicts how much new"
    " text still grows the vocab",
    tags=("text", "tokens", "vocab"),
)
def ta_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law (V ∝ N^β, public) is what this curve estimates
    empirically; tokenizer training reads it to decide when vocabulary
    has saturated. Shape: each token's FIRST document (one partial-agg
    shuffle on token — never a per-cutoff rescan of the corpus), then
    the cutoff sweep is a broadcast join against the tiny first-seen
    table; doc volume per cutoff is a second broadcast sweep over
    per-doc counts. Both sides scale as vocab/doc counts, not token
    occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    cut = docs.limit(1).select(
        F.explode(F.array(*[F.lit(c) for c in VOCAB_CUTOFFS])).alias("cutoff")
    )
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    first_seen = tok.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    vocab = (
        first_seen.join(
            F.broadcast(cut), F.col("first_doc") < F.col("cutoff")
        )
        .groupBy("cutoff")
        .agg(F.count("*").alias("vocab_size"))
    )
    vol = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(F.broadcast(cut), F.col("doc_id") < F.col("cutoff"))
        .groupBy("cutoff")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    return (
        vocab.join(vol, "cutoff")
        .select(
            "cutoff",
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.round(
                F.col("vocab_size").cast("double") / F.col("total_tokens"), 6
            ).alias("type_token_ratio"),
        )
        .orderBy("cutoff")
    )


#: Per-source token cap for the composed dedup→budget pipeline.
PIPE_TOKEN_CAP = 800


@register(
    "ta_dedup_budget_pipeline",
    oracle=f"""
WITH kept AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS dup_rn
  FROM documents
),
dedup AS (SELECT source, doc_id, n_tokens FROM kept WHERE dup_rn = 1),
running AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM dedup
)
SELECT r.source,
       t.n_total,
       COUNT(*) AS n_kept,
       t.n_total - COUNT(*) AS n_dropped,
       CAST(SUM(r.n_tokens) AS BIGINT) AS tokens_kept,
       COUNT(CASE WHEN r.cum_tokens <= {PIPE_TOKEN_CAP} THEN 1 END)
         AS n_in_budget
FROM running r
JOIN (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source) t
  USING (source)
GROUP BY r.source, t.n_total
ORDER BY r.source
""",
    description="composed pipeline: exact dedup (keep-first per md5) into"
    " a per-source token budget (running cumsum window) — the chained"
    " dedup→budget shape real training pipelines run, hash-checked as"
    " one plan",
    tags=("text", "dedup", "mixture", "pipeline"),
)
def ta_dedup_budget_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operators must COMPOSE without materialization boundaries: this
    chains dd_exact_stats' keep-first rule into ta_token_budget's
    per-source cumsum window as one Catalyst plan — dedup's window
    (md5(text) key) and the budget's window (source key) each shuffle
    once on their own key, and nothing collects in between. The hash
    check covers the composition semantics (a doc dropped by dedup must
    not consume budget), which per-operator checks cannot see."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    kept = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.row_number()
        .over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("dup_rn"),
    )
    dedup = kept.filter(F.col("dup_rn") == 1)
    running = dedup.withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    return (
        running.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.count(
                F.when(F.col("cum_tokens") <= PIPE_TOKEN_CAP, 1)
            ).alias("n_in_budget"),
        )
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_total",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
            "tokens_kept",
            "n_in_budget",
        )
        .orderBy("source")
    )


#: Full admission pipeline gates (each chosen non-vacuous on the
#: comparison fixture: lang keeps 167/500, quality trims short docs,
#: the fingerprint groups drop ~20% near-dups, the char budget
#: truncates every source's tail).
ADM_MIN_TOKENS = 20
ADM_MAX_TOKENS = 1000
ADM_MIN_DISTINCT = 0.3
ADM_CHAR_BUDGET = 1200

_ADM_EN_LEX = "['the', 'a', 'of', 'value', 'fast']"
_ADM_TECH_LEX = "['query', 'data', 'stream', 'group', 'filter']"


@register(
    "ta_admission_pipeline",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS distinct_ratio,
         len(list_intersect(list_distinct(string_split(text, ' ')),
             {_ADM_EN_LEX})) >=
         len(list_intersect(list_distinct(string_split(text, ' ')),
             {_ADM_TECH_LEX})) AS en_like
  FROM documents
),
flagged AS (
  SELECT *,
         n_tokens BETWEEN {ADM_MIN_TOKENS} AND {ADM_MAX_TOKENS}
           AND distinct_ratio >= {ADM_MIN_DISTINCT} AS quality_ok
  FROM feat
),
surv AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY CASE WHEN len(string_split(text, ' ')) >= 3
             THEN list_min(list_transform(
               list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> array_to_string(
                   list_slice(string_split(text, ' '), i, i + 2), ' ')),
               s -> md5(s)))
             ELSE md5(text) END
           ORDER BY doc_id) AS dup_rn
  FROM flagged WHERE en_like AND quality_ok
),
scrubbed AS (
  SELECT doc_id, source,
         len(regexp_extract_all(aug, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
         + len(regexp_extract_all(aug, '555-[0-9]{{4}}')) AS n_pii,
         length(regexp_replace(regexp_replace(aug,
             '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '555-[0-9]{{4}}', '[PHONE]', 'g')) AS clean_len
  FROM (
    SELECT doc_id, source,
           text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || doc_id || '@example.com now'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS aug
    FROM surv WHERE dup_rn = 1
  )
),
budgeted AS (
  SELECT *,
         SUM(clean_len) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_chars
  FROM scrubbed
),
drops AS (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(CASE WHEN NOT en_like THEN 1 END) AS drop_lang,
         COUNT(CASE WHEN en_like AND NOT quality_ok THEN 1 END)
           AS drop_quality
  FROM flagged GROUP BY source
),
dupdrops AS (
  SELECT source, COUNT(CASE WHEN dup_rn > 1 THEN 1 END) AS drop_dup
  FROM surv GROUP BY source
),
final AS (
  SELECT source,
         COUNT(CASE WHEN n_pii > 0 THEN 1 END) AS n_redacted,
         COUNT(CASE WHEN cum_chars <= {ADM_CHAR_BUDGET} THEN 1 END) AS kept,
         COUNT(CASE WHEN cum_chars > {ADM_CHAR_BUDGET} THEN 1 END)
           AS drop_budget,
         CAST(COALESCE(SUM(CASE WHEN cum_chars <= {ADM_CHAR_BUDGET}
                           THEN clean_len END), 0) AS BIGINT) AS chars_kept
  FROM budgeted GROUP BY source
)
SELECT d.source, d.n_docs, d.drop_lang, d.drop_quality,
       dd.drop_dup, f.n_redacted, f.kept, f.drop_budget, f.chars_kept
FROM drops d
JOIN dupdrops dd USING (source)
JOIN final f USING (source)
ORDER BY d.source
""",
    description="the FULL admission pipeline as one plan: lexicon"
    " language gate -> token/diversity quality gate -> near-dup"
    " fingerprint dedup -> PII redaction -> per-source character"
    " budget, with per-source drop accounting at every stage — the"
    " five-stage chain real corpus builds run, hash-checked end to end"
    " including cross-stage semantics",
    tags=("text", "quality", "dedup", "pii", "mixture", "pipeline"),
)
def ta_admission_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extends ta_dedup_budget_pipeline's 2-stage composition to the
    full 5-stage admission chain, still ONE Catalyst plan with no
    materialization between stages. The hash covers every cross-stage
    contract the per-operator checks cannot see: a non-English doc must
    not reach dedup, a duplicate must not be scrubbed or consume
    budget, and the budget counts REDACTED lengths (scrub shortens
    docs, so a scrub regression moves the cutoff). Stage keys differ —
    md5-fingerprint for the dedup window, source for the budget window
    — so the plan shuffles once per key, same as its 2-stage sibling;
    the drop-accounting branches are per-source aggregates joined at
    the end (broadcast-sized). Gates reuse the registered operators'
    exact expressions (ta_langid_heuristic's lexicons, ta_fingerprint's
    1-perm MinHash, ta_pii_scrub's inject+redact)."""
    from pyspark.sql import Window

    from mcp_rag_server_spark.functions.text import word_shingles_sql
    from mcp_rag_server_spark.operators.training_prep import (
        EMAIL_RE,
        PHONE_RE,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    en_lex = F.array(*[F.lit(w) for w in ("the", "a", "of", "value", "fast")])
    tech_lex = F.array(
        *[F.lit(w) for w in ("query", "data", "stream", "group", "filter")]
    )
    n_tokens = F.size(F.split("text", " "))
    flagged = docs.select(
        "doc_id",
        "source",
        "text",
        (
            F.size(F.array_intersect(toks, en_lex))
            >= F.size(F.array_intersect(toks, tech_lex))
        ).alias("en_like"),
        (
            n_tokens.between(ADM_MIN_TOKENS, ADM_MAX_TOKENS)
            & (
                F.size(F.array_distinct(F.split("text", " "))).cast("double")
                / n_tokens
                >= ADM_MIN_DISTINCT
            )
        ).alias("quality_ok"),
    )
    # single-eval coalesce form — see ta_fingerprint: the size()-guarded
    # CASE built the shingle array twice per row (no CSE for
    # interpreted HOFs); array_min(empty) IS NULL
    sh_sql = word_shingles_sql("split(text, ' ')", 3, var="adm")
    fp = F.expr(
        f"coalesce(array_min(transform({sh_sql}, admv -> md5(admv))),"
        f" md5(text))"
    )
    surv = flagged.filter(F.col("en_like") & F.col("quality_ok")).select(
        "doc_id",
        "source",
        "text",
        F.row_number()
        .over(Window.partitionBy(fp).orderBy("doc_id"))
        .alias("dup_rn"),
    )
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    scrubbed = (
        surv.filter(F.col("dup_rn") == 1)
        .select("doc_id", "source", aug.alias("aug"))
        .select(
            "doc_id",
            "source",
            (
                F.regexp_count("aug", F.lit(EMAIL_RE))
                + F.regexp_count("aug", F.lit(PHONE_RE))
            ).alias("n_pii"),
            F.length(
                F.regexp_replace(
                    F.regexp_replace(F.col("aug"), EMAIL_RE, "[EMAIL]"),
                    PHONE_RE,
                    "[PHONE]",
                )
            ).alias("clean_len"),
        )
    )
    budgeted = scrubbed.withColumn(
        "cum_chars",
        F.sum("clean_len").over(
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    drops = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(~F.col("en_like"), 1)).alias("drop_lang"),
        F.count(
            F.when(F.col("en_like") & ~F.col("quality_ok"), 1)
        ).alias("drop_quality"),
    )
    dupdrops = surv.groupBy("source").agg(
        F.count(F.when(F.col("dup_rn") > 1, 1)).alias("drop_dup")
    )
    in_budget = F.col("cum_chars") <= ADM_CHAR_BUDGET
    final = budgeted.groupBy("source").agg(
        F.count(F.when(F.col("n_pii") > 0, 1)).alias("n_redacted"),
        F.count(F.when(in_budget, 1)).alias("kept"),
        F.count(F.when(~in_budget, 1)).alias("drop_budget"),
        F.coalesce(
            F.sum(F.when(in_budget, F.col("clean_len"))), F.lit(0)
        ).alias("chars_kept"),
    )
    return (
        drops.join(dupdrops, "source")
        .join(final, "source")
        .select(
            "source",
            "n_docs",
            "drop_lang",
            "drop_quality",
            "drop_dup",
            "n_redacted",
            "kept",
            "drop_budget",
            "chars_kept",
        )
        .orderBy("source")
    )


_KL_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
corpus AS (
  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
),
ctot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM corpus),
src AS (
  SELECT source, t, COUNT(*) AS cnt_s FROM tok GROUP BY source, t
),
stot AS (
  SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_s,
         COUNT(*) AS n_distinct
  FROM src GROUP BY source
),
terms AS (
  SELECT s.source,
         CAST(round(
           (CAST(s.cnt_s AS DOUBLE) / st.n_s)
           * ln((CAST(s.cnt_s AS DOUBLE) / st.n_s)
                / (CAST(c.cnt AS DOUBLE) / ct.n)), 10)
           AS DECIMAL(18,10)) AS term
  FROM src s
  JOIN corpus c ON s.t = c.t
  JOIN stot st ON s.source = st.source
  CROSS JOIN ctot ct
)
SELECT t.source, st.n_s AS n_tokens, st.n_distinct,
       round(CAST(SUM(t.term) AS DOUBLE), 6) AS kl_divergence
FROM terms t JOIN stot st ON t.source = st.source
GROUP BY t.source, st.n_s, st.n_distinct
ORDER BY t.source
"""


@register(
    "ta_kl_source_drift",
    oracle=_KL_SQL,
    description="per-source distribution drift: KL(P_source ||"
    " P_corpus) over token unigram distributions — per-term"
    " p·ln(p/q) rounded-10 then decimal-summed (the ta_unigram_logprob"
    " log-parity discipline), the drift diagnostic that flags a crawl"
    " whose vocabulary diverges from the corpus before it skews"
    " training",
    tags=("text", "quality", "drift", "mixture"),
)
def ta_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL from each source's token distribution to the corpus-wide one
    — the per-source twin of ta_unigram_logprob's per-doc surprisal
    (same rounded-log-then-decimal determinism, so the transcendental
    never rides a float aggregate). Every support point of P_source is
    in P_corpus by construction (the corpus contains the source), so
    no smoothing term is needed and KL is finite. Shapes: token
    explode → two keyed partial aggs (corpus, per-source) → one
    token-keyed equi-join (the vocabulary join — Heaps-sublinear in
    corpus size) with totals broadcast; the final per-source sum is 20
    rows. A hot source (huge n_s) is still one partial-agg key — no
    skewed pair stage anywhere."""
    text = (
        _KL_SQL.replace(
            "unnest(string_split(text, ' '))", "explode(split(text, ' '))"
        )
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: DSIR smoothing: additive (add-1) over the corpus vocabulary.
DSIR_TARGET_LANG = "en"

_DSIR_SQL = """
WITH tok AS (
  SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS t
  FROM documents
),
corpus AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
ctot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM corpus
),
target AS (
  SELECT t, COUNT(*) AS cnt_t FROM tok WHERE lang = '{lang}' GROUP BY t
),
ttot AS (SELECT CAST(SUM(cnt_t) AS BIGINT) AS n_t FROM target),
terms AS (
  SELECT k.doc_id, k.source,
         CAST(round(
           ln((CAST(COALESCE(tg.cnt_t, 0) + 1 AS DOUBLE)
               / (tt.n_t + ct.v))
              / (CAST(c.cnt + 1 AS DOUBLE) / (ct.n + ct.v))), 8)
           AS DECIMAL(18,8)) AS lterm
  FROM tok k
  JOIN corpus c ON k.t = c.t
  LEFT JOIN target tg ON k.t = tg.t
  CROSS JOIN ctot ct CROSS JOIN ttot tt
),
docw AS (
  SELECT doc_id, source,
         round(CAST(SUM(lterm) AS DOUBLE), 6) AS log_weight
  FROM terms GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       round(CAST(SUM(CAST(log_weight AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_log_weight,
       MAX(log_weight) AS max_log_weight,
       COUNT(CASE WHEN log_weight > 0 THEN 1 END) AS n_target_leaning
FROM docw
GROUP BY source
ORDER BY source
"""


@register(
    "ta_dsir_weights",
    oracle=_DSIR_SQL.format(lang=DSIR_TARGET_LANG),
    description="DSIR-style importance-resampling weights (Xie et al."
    " 2023): per-doc log weight = sum of ln(p_target/p_raw) over"
    " add-1-smoothed unigram LMs (target = the en slice, raw = whole"
    " corpus), rounded-8 terms decimal-summed; per-source selection"
    " pressure hashed — the data-selection method behind"
    " domain-targeted pretraining mixes",
    tags=("text", "quality", "selection", "mixture"),
)
def ta_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling: documents are scored
    by how much more likely their tokens are under a TARGET domain LM
    than under the RAW corpus LM — log w(x) = Σ_t ln(p_T(t)/p_R(t)) —
    then sampled proportionally. Both LMs here are add-1-smoothed
    unigram tables (the hashed-ngram variant in the paper swaps the
    token key for a hash bucket — same plan), so the whole scorer is
    two vocabulary aggregations, one token-keyed join back to token
    occurrences, and a doc-keyed decimal sum of rounded-8 log terms
    (the ta_unigram_logprob/ta_kl_source_drift parity discipline).
    Smoothing uses the corpus vocabulary size for BOTH LMs, so every
    token has nonzero mass under the target even when absent from it.
    Per-source means + the positive-weight count summarize where
    selection pressure lands; the per-doc weights feed the
    ta_stratified_sample/ta_mix_temperature stages downstream."""
    text = (
        _DSIR_SQL.format(lang=DSIR_TARGET_LANG).replace(
            "unnest(string_split(text, ' '))", "explode(split(text, ' '))"
        )
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Fixed logistic-regression weights for the quality scorer
#: (intercept, tokens/100, distinct-ratio, mean-wordlen/10).
LR_W0 = -1.5
LR_W_TOK = 1.2
LR_W_DIV = 2.0
LR_W_WLEN = 0.8
LR_THRESHOLD = 0.5

_LR_SQL = f"""
WITH feats AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100 AS f_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS f_div,
         (CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) / 10
           AS f_wlen
  FROM documents
),
scored AS (
  SELECT source,
         round(CAST(1 AS DOUBLE)
               / (CAST(1 AS DOUBLE)
                  + exp(-({LR_W0} + {LR_W_TOK} * f_tok
                          + {LR_W_DIV} * f_div
                          + {LR_W_WLEN} * f_wlen))), 6) AS p_keep
  FROM feats
)
SELECT source,
       COUNT(*) AS n_docs,
       round(CAST(SUM(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_p_keep,
       COUNT(CASE WHEN p_keep >= {LR_THRESHOLD} THEN 1 END) AS n_kept
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "ta_logreg_quality",
    oracle=_LR_SQL,
    description="model-based quality filtering (inference shape): a"
    " fixed-weight logistic scorer over cheap text features — sigmoid"
    " per doc as rounded per-row IEEE math, per-source keep rates"
    " hashed; the fastText/logreg quality-classifier stage of"
    " production pipelines, with weights as config instead of a"
    " container-prohibited model artifact",
    tags=("text", "quality", "model", "inference"),
)
def ta_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality stages so far are RULES (ta_gopher_rules) and
    STATISTICS (ta_unigram_logprob); production pipelines usually end
    with a learned scorer — typically logistic regression or fastText
    over cheap features. Inference is just expressions: z = w·x in
    fixed operand order, sigmoid as 1/(1+exp(−z)) rounded to 6 (the
    transcendental-rounding parity discipline — exp differs by ≤1 ulp
    across libms, the rounding absorbs it), then per-source keep-rate
    aggregation through decimal partials. Weights live in constants
    exactly as a deployed scorer's coefficients live in config; the
    real-model twin (sentence-transformers/fastText artifacts) is
    container-policy-gated like F4's embedder, and this registers the
    full serving plumbing that scorer would drop into."""
    text = _LR_SQL.replace(
        "len(string_split(text, ' '))", "size(split(text, ' '))"
    ).replace(
        "len(list_distinct(string_split(text, ' ')))",
        "size(array_distinct(split(text, ' ')))",
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: Shared rule-label + logistic-score CTE prefix: gopher_pass (the
#: rule-battery label) and p_keep (the scorer) from ONE feature scan.
#: Used verbatim by ta_quality_calibration and ta_quality_auc.
_LABELED_CTES = f"""
WITH feat AS (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS distinct_ratio,
         len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL}))
           AS n_stop
  FROM documents
),
labeled AS (
  SELECT doc_id,
         CASE WHEN n_tokens >= {RULE_MIN_TOKENS}
               AND n_tokens <= {RULE_MAX_TOKENS}
               AND {_MW_SQL} >= {RULE_MIN_MEAN_WORDLEN}
               AND {_MW_SQL} <= {RULE_MAX_MEAN_WORDLEN}
               AND distinct_ratio >= {RULE_MIN_DISTINCT_RATIO}
               AND n_stop > 0 THEN 1 ELSE 0 END AS gopher_pass,
         round(CAST(1 AS DOUBLE)
               / (CAST(1 AS DOUBLE)
                  + exp(-({LR_W0}
                          + {LR_W_TOK} * (CAST(n_tokens AS DOUBLE) / 100)
                          + {LR_W_DIV} * distinct_ratio
                          + {LR_W_WLEN}
                            * ((CAST(n_chars AS DOUBLE) / n_tokens) / 10)))),
               6) AS p_keep
  FROM feat
)"""

_CALIB_SQL = f"""{_LABELED_CTES},
bucketed AS (
  SELECT LEAST(CAST(FLOOR(p_keep * 5) AS BIGINT), 4) AS score_bucket,
         gopher_pass, p_keep
  FROM labeled
)
SELECT score_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(gopher_pass) AS BIGINT) AS n_gopher_pass,
       round(CAST(SUM(gopher_pass) AS DOUBLE) / COUNT(*), 4)
         AS gopher_pass_rate,
       round(CAST(SUM(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_p_keep
FROM bucketed
GROUP BY score_bucket
ORDER BY score_bucket
"""


@register(
    "ta_quality_calibration",
    oracle=_CALIB_SQL,
    description="quality-scorer calibration: the logistic p_keep"
    " (ta_logreg_quality's scorer) bucketed into five fixed-width score"
    " bands, each band's Gopher-rule pass rate beside its mean score —"
    " the reliability table checked before swapping rules for a model",
    tags=("text", "quality", "model", "calibration"),
)
def ta_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before a pipeline replaces its rule battery (ta_gopher_rules)
    with a learned scorer (ta_logreg_quality), the operator checks
    AGREEMENT: bucket the model score into fixed bands and measure how
    often the rules pass within each band. A calibrated scorer shows a
    monotone pass-rate curve; a flat or inverted band means the model
    and the rules disagree about what quality IS — deploy-blocking
    either way. Fixed-width buckets (LEAST(FLOOR(p·5),4)) rather than
    ntile quintiles: the bucketing is then a per-row expression — no
    corpus-wide window, nothing global, one partial-agg shuffle on a
    5-value key (the global-ntile version of this table is exactly the
    shape the plan lint exists to reject at corpus scale). The sigmoid
    is rounded-6 before bucketing and decimal-summed for the mean
    (transcendental-rounding discipline), FLOOR precedes the integer
    cast (Spark truncates, DuckDB rounds half-even), and both label
    and score come from ONE feature scan."""
    text = (
        _CALIB_SQL.replace("len(", "size(")
        .replace("string_split(", "split(")
        .replace("list_distinct(", "array_distinct(")
        .replace("list_filter(", "filter(")
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


@register(
    "ta_bigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
bi AS (
  SELECT doc_id, w1,
         lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bi2 AS (SELECT doc_id, w1, w2 FROM bi WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, COUNT(*) AS cbg FROM bi2 GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cw1 FROM bg GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT w1) AS DOUBLE) AS vsz FROM tok),
s AS (
  SELECT b.doc_id,
         CAST(round(ln((c1.cw1 + v.vsz) / (bg.cbg + 1)), 8)
              AS DECIMAL(18,8)) AS s
  FROM bi2 b
  JOIN bg ON bg.w1 = b.w1 AND bg.w2 = b.w2
  JOIN c1 ON c1.w1 = b.w1
  CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal,
       round(exp(CAST(SUM(s) AS DOUBLE) / COUNT(*)), 4) AS ppl
FROM s
GROUP BY doc_id
ORDER BY doc_id
""",
    description="per-doc bigram-LM surprisal and perplexity under an"
    " add-1-smoothed corpus bigram model — the conditional"
    " (context-aware) quality tier above the unigram proxy: word-salad"
    " scores high even when every token is individually common",
    tags=("text", "quality", "lm", "bigram"),
)
def ta_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ta_unigram_logprob ranks docs by token RARITY; a shuffled bag of
    common words still scores as fluent there. The bigram conditional
    P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V) (add-1 smoothing over the
    corpus vocabulary) penalizes improbable TRANSITIONS — the cheapest
    model that distinguishes word salad from prose, and the standard
    middle tier between unigram stats and a real LM perplexity pass.
    Shape: the bigram table aggregates occurrences to (w1,w2,count)
    partials (vocabulary², not corpus, after aggregation), the w1
    marginals derive from it, V is a 1-row broadcast, and each
    occurrence's surprisal is a rounded-8 ln decimal-summed per doc
    (the transcendental-rounding discipline); perplexity = exp of the
    derived mean, rounded once. Docs with fewer than two tokens have
    no bigram and drop out in BOTH engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = tok.select(
        "doc_id", "w1", F.lead("w1").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    bg = bi.groupBy("w1", "w2").agg(F.count("*").alias("cbg"))
    c1 = bg.groupBy("w1").agg(F.sum("cbg").cast("bigint").alias("cw1"))
    v = tok.agg(F.countDistinct("w1").cast("double").alias("vsz"))
    s = (
        bi.join(F.broadcast(bg), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("cw1") + F.col("vsz")) / (F.col("cbg") + 1)
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("s"),
        )
    )
    mean_raw = F.sum("s").cast("double") / F.count("*")
    return (
        s.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(mean_raw, 6).alias("mean_surprisal"),
            F.round(F.exp(mean_raw), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


#: k-anonymity threshold: an equivalence class smaller than this many
#: docs is a re-identification risk under the quasi-identifier set.
KANON_K = 5

_KANON_SQL = """
WITH qid AS (
  SELECT source, lang,
         CAST(FLOOR(n_chars / 10.0) AS BIGINT) AS b10,
         CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS b100
  FROM documents
),
classes AS (
  SELECT source, lang, b10, b100,
         GROUPING_ID(source, lang, b10, b100) AS g_id,
         COUNT(*) AS cls_n
  FROM qid
  GROUP BY GROUPING SETS ((source, lang, b10),
                          (source, lang, b100),
                          (source, lang))
)
SELECT CASE g_id WHEN 1 THEN '0_len_bucket10'
                 WHEN 2 THEN '1_len_bucket100'
                 ELSE '2_source_lang_only' END AS level,
       COUNT(*) AS n_classes,
       MIN(cls_n) AS min_class_size,
       COUNT(CASE WHEN cls_n < {k} THEN 1 END) AS n_violating,
       CAST(SUM(CASE WHEN cls_n < {k} THEN cls_n ELSE 0 END)
            AS BIGINT) AS docs_at_risk,
       round(CAST(SUM(CASE WHEN cls_n < {k} THEN cls_n ELSE 0 END)
                  AS DOUBLE) * 100.0
             / CAST(SUM(cls_n) AS DOUBLE), 6) AS pct_at_risk
FROM classes
GROUP BY g_id
ORDER BY level
""".format(k=KANON_K)


@register(
    "ta_kanonymity_audit",
    oracle=_KANON_SQL,
    description="k-anonymity audit over quasi-identifiers (source, lang,"
    " doc-length bucket) at three generalization levels from ONE"
    " GROUPING SETS pass: class counts, k<5 violations, and the share"
    " of docs re-identifiable by their metadata — the release-gate"
    " governance census",
    tags=("text", "quality", "privacy", "agg", "groupingsets"),
)
def ta_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even a PII-scrubbed corpus leaks through metadata: a doc whose
    (source, lang, length-bucket) combination is nearly unique is
    re-identifiable by joining any external list sharing those
    attributes — the Sweeney k-anonymity model. The audit grid is the
    generalization LADDER (10-char buckets -> 100-char -> drop
    length): publishing needs the coarsest level whose risk share is
    acceptable, and all three levels come from one GROUPING SETS
    aggregation (one shuffle; GROUPING_ID over ALL grouping columns —
    Spark rejects a subset — is the level key, the
    grouping_sets_sales idiom). FLOOR over exact /10.0 doubles
    keeps the bucket engine-portable where integer-division syntax is
    not. At 100 TB this is a count-shaped pass over however many
    distinct QID combinations exist — never over docs."""
    return sql(
        spark, _KANON_SQL, documents=load_table(spark, sf_dir, "documents")
    )


#: Deterministic corruption markers for the encoding-hygiene census
#: (fixture text is pure ASCII, so — exactly like ta_pii_scrub's PII
#: and ta_fuzzy_correct's typos — the defects are injected on doc_id
#: residues both engines compute identically). The markers carry the
#: three canonical damage signatures: Latin-1 double-encoding, U+FFFD
#: replacement, and a C0 control byte (BEL).
MOJI_DOUBLE_ENC = " caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9"
MOJI_REPLACEMENT = " bad byte \ufffd here"
MOJI_CTRL = " bell\u0007end"


def _mojibake_sql(dialect: str) -> str:
    """Per-source encoding-hygiene census over the injected corpus.
    Dialect splits: DuckDB regexp_replace needs the 'g' flag (Spark
    replaces all matches by default) and || concat; marker literals are
    embedded as UTF-8 text, identical bytes to both engines."""
    if dialect == "duckdb":
        aug = (
            "text || CASE WHEN doc_id % 13 = 0 THEN '{d}' ELSE '' END"
            " || CASE WHEN doc_id % 17 = 0 THEN '{r}' ELSE '' END"
            " || CASE WHEN doc_id % 19 = 0 THEN '{c}' ELSE '' END"
        ).format(d=MOJI_DOUBLE_ENC, r=MOJI_REPLACEMENT, c=MOJI_CTRL)
        ascii_only = "regexp_replace(text, '[^ -~]', '', 'g')"
    else:
        aug = (
            "concat(text,"
            " CASE WHEN doc_id % 13 = 0 THEN '{d}' ELSE '' END,"
            " CASE WHEN doc_id % 17 = 0 THEN '{r}' ELSE '' END,"
            " CASE WHEN doc_id % 19 = 0 THEN '{c}' ELSE '' END)"
        ).format(d=MOJI_DOUBLE_ENC, r=MOJI_REPLACEMENT, c=MOJI_CTRL)
        ascii_only = "regexp_replace(text, '[^ -~]', '')"
    return f"""
WITH aug AS (
  SELECT doc_id, source, {{aug}} AS text FROM documents
),
flags AS (
  SELECT doc_id, source,
         CASE WHEN instr(text, '\ufffd') > 0 THEN 1 ELSE 0 END AS f_repl,
         CASE WHEN instr(text, '\u0007') > 0 THEN 1 ELSE 0 END AS f_ctrl,
         CASE WHEN instr(text, '\u00c3\u00a9') > 0 THEN 1 ELSE 0
           END AS f_double_enc,
         CAST(round((length(text) - length({{ascii_only}})) * 100.0
                    / NULLIF(length(text), 0), 6) AS DECIMAL(18,6))
           AS non_printable_pct
  FROM aug
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(f_repl) AS BIGINT) AS n_replacement_docs,
       CAST(SUM(f_ctrl) AS BIGINT) AS n_control_docs,
       CAST(SUM(f_double_enc) AS BIGINT) AS n_double_encoded_docs,
       COUNT(CASE WHEN f_repl + f_ctrl + f_double_enc = 0 THEN 1 END)
         AS n_clean_docs,
       round(CAST(SUM(non_printable_pct) AS DOUBLE) / COUNT(*), 6)
         AS mean_non_printable_pct
FROM flags
GROUP BY source
ORDER BY source
""".format(aug=aug, ascii_only=ascii_only)


@register(
    "ta_mojibake_detect",
    oracle=_mojibake_sql("duckdb"),
    description="encoding-hygiene census per source: U+FFFD replacement"
    " chars, stray C0 control bytes, Latin-1-double-encoded UTF-8"
    " mojibake, and the outside-printable-ASCII character share — the"
    " crawl-sanitation pass run before text reaches a tokenizer,"
    " over a deterministically corruption-injected corpus",
    tags=("text", "quality", "encoding"),
)
def ta_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-scale text arrives encoding-damaged in three canonical ways:
    decoder failures leave U+FFFD; binary spill leaves C0 control
    bytes; and the UTF-8-read-as-Latin-1 round trip turns every
    e-acute into the two-char mojibake signature this query injects.
    Each detector is an instr per row inside codegen; the
    non-printable share strips the '[^ -~]' class — an escape-free
    pattern, because Spark unescapes backslashes in SQL literals and
    DuckDB does not, so any pattern SPELLED with backslashes parses
    differently per engine (caught by the replay before ship) and the census shuffles per-source
    partial sums only. The fixture is pure ASCII, so defects are
    INJECTED on doc_id residues 13/17/19 (the ta_pii_scrub
    discipline): both engines construct the identical corrupted
    corpus, and the per-doc non-ASCII share is rounded then
    decimal-summed so the per-source mean hashes exactly. At 100 TB:
    scan -> flag -> count, embarrassingly parallel, no doc-level
    output."""
    text = _mojibake_sql("spark")
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: AUC score quantization: buckets = round(p_keep, 3) → ≤ 1001
#: distinct values, the bound that makes the cumulative window safe.
AUC_SCORE_DECIMALS = 3

_AUC_SQL = f"""{_LABELED_CTES},
buckets AS (
  -- p_keep IS NOT NULL: an unscorable doc (NULL text -> NULL
  -- features) cannot be ranked in a ROC curve, and a NULL score
  -- bucket enters the cumulative window at a different end per engine
  SELECT round(p_keep, {AUC_SCORE_DECIMALS}) AS s,
         CAST(SUM(gopher_pass) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(gopher_pass) AS BIGINT) AS neg
  FROM labeled
  WHERE p_keep IS NOT NULL
  GROUP BY round(p_keep, {AUC_SCORE_DECIMALS})
),
cum AS (
  SELECT s, pos, neg,
         CAST(SUM(neg) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg
              AS BIGINT) AS neg_below
  FROM buckets
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM buckets
)
SELECT t.n_pos + t.n_neg AS n_docs, t.n_pos, t.n_neg, t.n_buckets,
       round(SUM(c.pos * (c.neg_below + c.neg / 2.0))
             / (CAST(t.n_pos AS DOUBLE) * t.n_neg), 6) AS auc,
       round(2 * SUM(c.pos * (c.neg_below + c.neg / 2.0))
             / (CAST(t.n_pos AS DOUBLE) * t.n_neg) - 1, 6) AS gini
FROM cum c CROSS JOIN tot t
GROUP BY t.n_pos, t.n_neg, t.n_buckets
"""


@register(
    "ta_quality_auc",
    oracle=_AUC_SQL,
    description="exact ROC-AUC (and Gini) of the logistic quality"
    " scorer against the Gopher-rule labels via the histogram method:"
    " scores quantized to 3 decimals, per-bucket pos/neg counts, one"
    " bounded cumulative window — the Mann-Whitney rank-sum with"
    " average-rank tie handling, never a corpus-wide sort",
    tags=("text", "quality", "model", "eval", "auc"),
    bench=True,
)
def ta_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ta_quality_calibration checks the scorer band by band; AUC is
    the single ranking number model swaps are gated on. The corpus-
    scale formulation: quantize the score (3 decimals — the bucket
    table is ≤ 1001 rows BY CONSTRUCTION regardless of corpus size),
    reduce to per-bucket positive/negative counts (one partial-agg
    shuffle), then AUC = Σ_b pos_b·(neg_below_b + neg_b/2) / (P·N) —
    exactly the Mann-Whitney statistic with average ranks for ties,
    where the only window runs over the bounded bucket table. Every
    term pos·(neg_below + neg/2) is an exact multiple of 0.5 well
    under 2^53, so the float sum is order-independent without decimal
    scaffolding. AUC here is exact for the QUANTIZED score — the
    quantization is the operator's contract, not an approximation
    caveat (a 6-decimal scorer re-ranked at 3 decimals moves AUC by
    <1e-3 on any calibrated scorer). gini = 2·AUC − 1 rides along."""
    text = (
        _AUC_SQL.replace("len(", "size(")
        .replace("string_split(", "split(")
        .replace("list_distinct(", "array_distinct(")
        .replace("list_filter(", "filter(")
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


#: CCNet perplexity tiers on the rounded-6 mean unigram surprisal
#: (cutoffs probed on the fixture: head/middle/tail split
#: 184/183/133 at sf0.01 and 505/4008/487 at sf0.1 — every tier
#: populated at every SF, no degenerate bucket).
CCNET_HEAD_LT = 3.400
CCNET_MIDDLE_LT = 3.405

_CCNET_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM tf),
surprisal AS (
  SELECT tok.doc_id,
         CAST(round(ln(tot.n / CAST(tf.cnt AS DOUBLE)), 8)
              AS DECIMAL(18,8)) AS s
  FROM tok JOIN tf USING (t) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS ms
  FROM surprisal GROUP BY doc_id
),
tiered AS (
  SELECT d.lang,
         CASE WHEN p.ms < {CCNET_HEAD_LT} THEN '0_head'
              WHEN p.ms < {CCNET_MIDDLE_LT} THEN '1_middle'
              ELSE '2_tail' END AS tier,
         p.n_tokens, p.ms
  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
),
lang_tot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_docs FROM tiered
  GROUP BY lang
),
all_tok AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS n FROM tiered)
SELECT t.lang, t.tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       round(COUNT(*) / CAST(lt.lang_docs AS DOUBLE), 4)
         AS doc_share_in_lang,
       round(SUM(t.n_tokens) / a.n, 6) AS token_share_overall,
       round(CAST(SUM(CAST(t.ms AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_surprisal
FROM tiered t
JOIN lang_tot lt ON lt.lang = t.lang
CROSS JOIN all_tok a
GROUP BY t.lang, t.tier, lt.lang_docs, a.n
ORDER BY t.lang, t.tier
"""


@register(
    "ta_ccnet_buckets",
    oracle=_CCNET_SQL,
    description="CCNet-style corpus composition (Wenzek et al."
    " LREC'20): language × perplexity tier (head/middle/tail on the"
    " unigram-LM mean surprisal) with per-bucket doc/token counts,"
    " within-language shares, and overall token shares — the table"
    " multilingual pretraining mixes are planned from",
    tags=("text", "quality", "lm", "mixture"),
)
def ta_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet ranks each language's crawl by LM perplexity and keeps
    head/middle/tail tiers as separate shards — downstream mixes then
    choose how deep into each language's quality ladder to draw. The
    tier key here is the SAME rounded-6 mean unigram surprisal
    ta_unigram_logprob hashes (exact decimal sum of rounded-8 ln
    terms — engine-identical, so the < cutoff comparisons are exact
    and the tier assignment is deterministic by construction), against
    fixed cutoffs rather than per-language quantiles: quantile cuts
    need a per-language sort/window, while fixed cutoffs keep the
    whole operator at two shuffles (token tf, then the (lang, tier)
    rollup) at any corpus size — production CCNet does the same,
    computing cutoffs ONCE on a sample and freezing them into config.
    The tier boundaries are fixture-probed so every (lang, tier)
    bucket is populated at sf0.001/0.01/0.1 (COVERAGE note)."""
    text = _CCNET_SQL.replace(
        "unnest(string_split(text, ' '))", "explode(split(text, ' '))"
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))


def _card_sql(dialect: str, pairs_cte: str) -> str:
    """The one-row corpus datasheet, assembled from the registered
    building blocks: ta_token_stats' token explode, ta_unigram_logprob's
    surprisal, ta_ccnet_buckets' tier cutoffs, ta_gopher_rules'
    label, and the dd_* near-dup pair list (``pairs_cte`` supplies
    pairs(doc_a, doc_b) — inlined LSH CTEs for DuckDB, the
    _jaccard_pair_edges frame bound as ``neardup_pairs`` for Spark)."""
    if dialect == "spark":
        tok = "SELECT doc_id, explode(split(text, ' ')) AS t FROM documents"
    else:
        tok = ("SELECT doc_id, unnest(string_split(text, ' ')) AS t"
               " FROM documents")
    sql = f"""
WITH {pairs_cte},
tok AS ({tok}),
tf AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM tf),
surprisal AS (
  SELECT tok.doc_id,
         CAST(round(ln(tot.n / CAST(tf.cnt AS DOUBLE)), 8)
              AS DECIMAL(18,8)) AS s
  FROM tok JOIN tf ON tf.t = tok.t CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS ms
  FROM surprisal GROUP BY doc_id
),
feat AS (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS distinct_ratio,
         len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL}))
           AS n_stop
  FROM documents
),
gopher AS (
  SELECT CAST(SUM(CASE WHEN n_tokens >= {RULE_MIN_TOKENS}
                        AND n_tokens <= {RULE_MAX_TOKENS}
                        AND {_MW_SQL} >= {RULE_MIN_MEAN_WORDLEN}
                        AND {_MW_SQL} <= {RULE_MAX_MEAN_WORDLEN}
                        AND distinct_ratio >= {RULE_MIN_DISTINCT_RATIO}
                        AND n_stop > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass
  FROM feat
),
basic AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents
),
tokstats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM tf
),
dup AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
dupdocs AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n_dup_docs
  FROM (SELECT doc_a AS d FROM pairs
        UNION ALL SELECT doc_b FROM pairs) u
),
tiers AS (
  SELECT CAST(COUNT(CASE WHEN ms < {CCNET_HEAD_LT} THEN 1 END)
              AS BIGINT) AS n_head,
         CAST(COUNT(CASE WHEN ms >= {CCNET_HEAD_LT}
                          AND ms < {CCNET_MIDDLE_LT} THEN 1 END)
              AS BIGINT) AS n_middle,
         CAST(COUNT(CASE WHEN ms >= {CCNET_MIDDLE_LT} THEN 1 END)
              AS BIGINT) AS n_tail
  FROM per_doc
)
SELECT b.n_docs, b.n_sources, b.n_langs, b.total_chars,
       t.n_tokens, t.vocab_size,
       round(t.n_tokens / CAST(b.n_docs AS DOUBLE), 2)
         AS mean_doc_tokens,
       g.n_pass AS n_gopher_pass,
       round(g.n_pass / CAST(b.n_docs AS DOUBLE), 4)
         AS gopher_pass_rate,
       d.n_pairs AS n_neardup_pairs,
       dd.n_dup_docs,
       round(dd.n_dup_docs / CAST(b.n_docs AS DOUBLE), 4)
         AS dup_doc_pct,
       ti.n_head, ti.n_middle, ti.n_tail
FROM basic b CROSS JOIN tokstats t CROSS JOIN gopher g
CROSS JOIN dup d CROSS JOIN dupdocs dd CROSS JOIN tiers ti
"""
    if dialect == "spark":
        sql = (
            sql.replace("len(", "size(")
            .replace("string_split(", "split(")
            .replace("list_distinct(", "array_distinct(")
            .replace("list_filter(", "filter(")
        )
    return sql


def _card_oracle() -> str:
    from mcp_rag_server_spark.operators.dedup import _DUCKDB_PAIRS_CTE

    return _card_sql("duckdb", _DUCKDB_PAIRS_CTE)


@register(
    "ta_dataset_card",
    oracle=_card_oracle(),
    description="the one-row corpus datasheet: doc/source/lang/token"
    " censuses, vocabulary size, Gopher-rule pass rate, near-dup pair"
    " and affected-doc counts, and the CCNet perplexity-tier split —"
    " every number the dataset card of a training corpus reports,"
    " assembled from the registered building blocks in one statement",
    tags=("text", "quality", "dedup", "card", "summary"),
)
def ta_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset cards (Gebru et al.'s datasheets; every HF dataset
    page) report exactly these numbers, and at 100 TB they must come
    from one orchestrated pass, not a notebook of ad-hoc queries. The
    operator composes the already-verified building blocks — token
    explode + tf (ta_token_stats), rounded-8 surprisal decimal sums
    (ta_unigram_logprob), the probed CCNet tier cutoffs
    (ta_ccnet_buckets), the Gopher label (ta_gopher_rules), and the
    LSH-verified ≥0.9 near-dup pair list (_jaccard_pair_edges — the
    Spark side binds it as a relation, the oracle inlines the
    same banded CTEs) — into a single statement whose scalar
    sub-aggregates meet in broadcast-sized cross joins. Every ratio
    is a rounded exact-count quotient; nothing in the card is
    approximate, so the hash IS the datasheet."""
    from mcp_rag_server_spark.operators.dedup import _jaccard_pair_edges

    docs = load_table(spark, sf_dir, "documents")
    return sql(
        spark,
        _card_sql(
            "spark", "pairs AS (SELECT doc_a, doc_b FROM neardup_pairs)"
        ),
        documents=docs,
        neardup_pairs=_jaccard_pair_edges(docs),
    )


#: Gains chart: depth grid (fraction of corpus selected, top-down by
#: score).
GAINS_DEPTHS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)

_GAINS_SQL = f"""{_LABELED_CTES},
buckets AS (
  SELECT round(p_keep, {AUC_SCORE_DECIMALS}) AS s,
         CAST(SUM(gopher_pass) AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM labeled
  GROUP BY round(p_keep, {AUC_SCORE_DECIMALS})
),
cum AS (
  SELECT s,
         CAST(SUM(n) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_n,
         CAST(SUM(pos) OVER (ORDER BY s DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos
  FROM buckets
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(SUM(pos) AS BIGINT) AS n_pos FROM buckets),
grid AS (SELECT * FROM (VALUES {", ".join(f"({d})" for d in GAINS_DEPTHS)})
         AS g(depth)),
picked AS (
  SELECT g.depth, c.s, c.cum_n, c.cum_pos, t.n_docs, t.n_pos,
         row_number() OVER (PARTITION BY g.depth
                            ORDER BY c.cum_n, c.s DESC) AS rn
  FROM grid g
  JOIN cum c CROSS JOIN tot t
    ON c.cum_n >= g.depth * t.n_docs
)
-- depth stays DECIMAL through the join (exact 0.1*n boundary picks);
-- the OUTPUT must be DOUBLE — DecimalType output columns hash-drift
-- between engines whenever str(Decimal) and float repr diverge.
SELECT CAST(depth AS DOUBLE) AS depth,
       s AS score_threshold,
       cum_n AS n_selected,
       round(cum_n / CAST(n_docs AS DOUBLE), 4) AS share_selected,
       cum_pos AS n_pos_captured,
       round(cum_pos / CAST(n_pos AS DOUBLE), 4) AS capture_rate,
       round((cum_pos / CAST(n_pos AS DOUBLE))
             / (cum_n / CAST(n_docs AS DOUBLE)), 4) AS lift
FROM picked
WHERE rn = 1
ORDER BY depth
"""


@register(
    "ta_gains_chart",
    oracle=_GAINS_SQL,
    description="cumulative gains / lift chart for the quality scorer:"
    " at each selection depth (top 10%…100% by score), the exact"
    " share selected, Gopher-positive capture rate, and lift — the"
    " targeting table (\"the top 20% of scores holds X% of the good"
    " docs\") built entirely on the bounded score-bucket machinery",
    tags=("text", "quality", "model", "eval", "gains"),
)
def ta_gains_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC (ta_quality_auc) summarizes ranking quality in one number;
    the gains chart is the operational view — if we keep only the
    top-k% by score, what fraction of the genuinely good documents
    survive? Same bounded machinery as the AUC: round-3 score
    buckets (≤1001 rows), a top-down cumulative window over them,
    then each grid depth picks the smallest prefix whose selected
    share reaches it (MIN over a grid×bucket join — both sides
    bounded). share/capture/lift are exact-count quotients rounded 4;
    the threshold column is the realized score cut a deployment
    would configure. The cumulative window is the allowlisted
    bounded-global shape (two specdefinitions on one ORDER BY s DESC
    spec)."""
    text = (
        _GAINS_SQL.replace("len(", "size(")
        .replace("string_split(", "split(")
        .replace("list_distinct(", "array_distinct(")
        .replace("list_filter(", "filter(")
    )
    return sql(spark, text, documents=load_table(spark, sf_dir, "documents"))
