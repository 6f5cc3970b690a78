"""Statistical language-model quality signals over the `documents`
corpus: bigram-LM surprisal scoring (the perplexity-proxy filter used
in pretraining-data curation), character-class entropy, and n-gram
uniqueness (compressibility proxy).

These complete the text-analysis half of the training-data pipeline
(tokens / quality features / heavy hitters / TF-IDF live in
queries/datapipe.py; gate-style filters in queries/curation.py). All
DuckDB-oracle-backed.

Portability: tokenization is the shared whitespace-split
(`functions/text.tokens` ↔ `string_split_regex`), n-gram windows are
index slices over the token array on both engines, probability math
is expressed as the *same* written expression (fixed evaluation
order) and rounded before hash-compare — ln() can differ by an ulp
across engines, which is 12 orders of magnitude below the rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as textfns
from . import registry

QUERIES, ORACLES, q = registry.module()


_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_BIGRAMS_SQL = (
    "list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
    "i -> array_to_string(toks[i:i+1], ' '))"
)
_FOURGRAMS_SQL = (
    "list_transform(range(1, greatest(len(toks) - 3, 0) + 1), "
    "i -> array_to_string(toks[i:i+3], ' '))"
)


@q(
    "bigram_lm_surprisal",
    f"""WITH bg AS (
         SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg
         FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)),
       bgc AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY 1),
       w1c AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
               FROM bg GROUP BY 1)
       SELECT doc_id,
              COUNT(*) AS n_bigrams,
              ROUND(AVG(ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE))), 4)
                AS avg_surprisal
       FROM bg
       JOIN bgc USING (bg)
       JOIN w1c ON split_part(bg, ' ', 1) = w1c.w1
       GROUP BY doc_id""",
)
def bigram_lm_surprisal(spark, sf_dir):
    """Perplexity-proxy quality score: train a bigram MLE language
    model on the corpus itself (P(w2|w1) = c(w1 w2)/c(w1 ·)), then
    score every document by its mean surprisal -ln P. Low = formulaic
    or repetitive text, high = out-of-distribution noise — the
    standard cheap stand-in for a real LM perplexity filter.

    Train and score are the same explode: bigram counts and
    first-token counts are two map-side-combined aggregates over one
    bigram stream, joined back to the stream. Both count tables are
    vocabulary-sized, orders of magnitude smaller than the corpus —
    at 100 TB they broadcast (or bloom-prune) so the document stream
    shuffles only for its own per-doc groupBy. No smoothing needed:
    every scored bigram is in the training counts by construction."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    bg = tokd.select(
        "doc_id", F.explode(textfns.shingles(F.col("__toks"), 2)).alias("bg")
    )
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    w1c = bg.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    scored = (
        bg.join(bgc, "bg")
        .join(w1c, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .select(
            "doc_id",
            (
                F.log(F.col("c1").cast("double"))
                - F.log(F.col("c2").cast("double"))
            ).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("surprisal"), 4).alias("avg_surprisal"),
    )


@q(
    "char_class_entropy",
    """WITH cls AS (
         SELECT source,
                length(t) AS n,
                length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS n_alpha,
                length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
                length(t) - length(regexp_replace(t, '\\s', '', 'g')) AS n_space
         FROM (SELECT source, lower(text) AS t FROM documents)
         WHERE length(t) > 0),
       ent AS (
         SELECT source,
                n_alpha, n_digit, n_space,
                n - n_alpha - n_digit - n_space AS n_other, n,
                -(CASE WHEN n_alpha > 0 THEN (CAST(n_alpha AS DOUBLE)/n)
                         * ln(CAST(n_alpha AS DOUBLE)/n) ELSE 0 END
                  + CASE WHEN n_digit > 0 THEN (CAST(n_digit AS DOUBLE)/n)
                         * ln(CAST(n_digit AS DOUBLE)/n) ELSE 0 END
                  + CASE WHEN n_space > 0 THEN (CAST(n_space AS DOUBLE)/n)
                         * ln(CAST(n_space AS DOUBLE)/n) ELSE 0 END
                  + CASE WHEN n - n_alpha - n_digit - n_space > 0
                         THEN (CAST(n - n_alpha - n_digit - n_space AS DOUBLE)/n)
                         * ln(CAST(n - n_alpha - n_digit - n_space AS DOUBLE)/n)
                         ELSE 0 END) AS h
         FROM cls)
       SELECT source, COUNT(*) AS n_docs,
              ROUND(AVG(h), 4) AS avg_entropy,
              ROUND(AVG(CAST(n_alpha AS DOUBLE) / n), 4) AS avg_alpha_share,
              ROUND(AVG(CAST(n_digit AS DOUBLE) / n), 4) AS avg_digit_share
       FROM ent GROUP BY 1""",
)
def char_class_entropy(spark, sf_dir):
    """Character-class Shannon entropy per document (letter / digit /
    whitespace / other over case-folded text), averaged per source —
    a one-pass garbage detector: base64 blobs and number dumps sit
    far from prose on this axis. Entirely map-side (class counts are
    length-differences under regexp_replace, no explode, no
    histogram shuffle); the only Exchange carries one row per
    source. The 4-term entropy sum is written in the same fixed
    order on both engines, so evaluation order — and hence the
    float result — is identical before rounding."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    t = F.lower(F.col("text"))
    n = F.length(t)
    n_alpha = n - F.length(F.regexp_replace(t, "[a-z]", ""))
    n_digit = n - F.length(F.regexp_replace(t, "[0-9]", ""))
    n_space = n - F.length(F.regexp_replace(t, r"\s", ""))
    cls = docs.filter(n > 0).select(
        "source",
        n.alias("n"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )
    n_other = (
        F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")
    ).alias("n_other")

    def term(c):
        p = c.cast("double") / F.col("n")
        return F.when(c > 0, p * F.log(p)).otherwise(F.lit(0.0))

    h = -(
        term(F.col("n_alpha"))
        + term(F.col("n_digit"))
        + term(F.col("n_space"))
        + term(F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space"))
    )
    ent = cls.select(
        "source",
        "n",
        "n_alpha",
        "n_digit",
        h.alias("h"),
    )
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("h"), 4).alias("avg_entropy"),
        F.round(F.avg(F.col("n_alpha").cast("double") / F.col("n")), 4).alias(
            "avg_alpha_share"
        ),
        F.round(F.avg(F.col("n_digit").cast("double") / F.col("n")), 4).alias(
            "avg_digit_share"
        ),
    )


@q(
    "fourgram_uniqueness",
    f"""WITH per_doc AS (
         SELECT lang,
                len(sh) AS n_sh,
                len(list_distinct(sh)) AS n_uniq
         FROM (SELECT lang, {_FOURGRAMS_SQL} AS sh
               FROM (SELECT lang, {_TOKS_SQL} AS toks FROM documents))
         WHERE len(sh) > 0)
       SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(n_sh) AS BIGINT) AS total_4grams,
              CAST(SUM(n_sh - n_uniq) AS BIGINT) AS dup_4grams,
              ROUND(CAST(SUM(n_sh - n_uniq) AS DOUBLE) / SUM(n_sh), 6)
                AS dup_ratio
       FROM per_doc GROUP BY 1""",
)
def fourgram_uniqueness(spark, sf_dir):
    """Intra-document 4-gram duplication ratio per language — the
    cheap compressibility proxy (boilerplate and template text repeat
    long n-grams; clean prose almost never does). Per-doc distinct
    counting is `array_distinct` on the shingle array — map-side,
    JVM-codegen'd, no token ever crosses the wire; the single
    Exchange carries one integer triple per language. Contrast with
    the explode→COUNT(DISTINCT) formulation, which would shuffle
    every 4-gram of a 100 TB corpus twice."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # Two projection boundaries: tokens materialize before the shingle
    # lambda (a free split() expression would re-tokenize per element
    # — no CSE across lambda bodies), and the shingle array
    # materializes before being referenced twice (total + distinct
    # size) — inlining would rebuild every 4-gram string twice.
    # The "has any 4-grams" gate is the CHEAP equivalent size(toks)>=4
    # — a `n_sh > 0` filter on the final column gets pushed below the
    # projections and re-inlines the whole shingle pipeline into the
    # scan's row filter (measured 5x the query's entire wall time).
    tokd = docs.select("lang", textfns.tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 4
    )
    shd = tokd.select("lang", textfns.shingles(F.col("__toks"), 4).alias("sh"))
    per_doc = shd.select(
        "lang",
        F.size("sh").alias("n_sh"),
        F.size(F.array_distinct("sh")).alias("n_uniq"),
    )
    dup = F.sum(F.col("n_sh") - F.col("n_uniq"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").alias("total_4grams"),
        dup.alias("dup_4grams"),
        F.round(dup.cast("double") / F.sum("n_sh"), 6).alias("dup_ratio"),
    )


@q(
    "lexicon_sentiment_scores",
    """WITH toks AS (
         SELECT doc_id, lang,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         FROM documents),
       scored AS (
         SELECT doc_id, lang,
                CAST(COUNT(*) AS INTEGER) AS n_tokens,
                CAST(SUM(CASE WHEN tok IN ('fast', 'big') THEN 1 ELSE 0 END)
                     AS INTEGER) AS pos_hits,
                CAST(SUM(CASE WHEN tok IN ('slow', 'small') THEN 1 ELSE 0 END)
                     AS INTEGER) AS neg_hits
         FROM toks GROUP BY 1, 2)
       SELECT doc_id, lang, n_tokens, pos_hits, neg_hits,
              ROUND(CAST(pos_hits - neg_hits AS DOUBLE) / n_tokens, 6) AS polarity,
              CASE WHEN pos_hits > neg_hits THEN 'positive'
                   WHEN neg_hits > pos_hits THEN 'negative'
                   ELSE 'neutral' END AS label
       FROM scored""",
)
def lexicon_sentiment_scores(spark, sf_dir):
    """Lexicon-based sentiment scoring (the distributed
    lexicon-counting design of 'Large Scale Sentiment Analysis on
    Twitter with Spark', EDBT 2016): per-document positive/negative
    lexicon hit counts and a normalized polarity in ONE map-side pass
    — tokens stay an array, hits come from size(filter(...)) JVM
    lambdas, no explode and no shuffle (the plan is scan→project).
    The oracle independently recomputes via unnest + conditional
    aggregation. At 100 TB the lexicon (broadcast set / inlined
    literals) never grows with the corpus."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pos = F.size(
        F.filter(toks, lambda t: (t == "fast") | (t == "big"))
    )
    neg = F.size(
        F.filter(toks, lambda t: (t == "slow") | (t == "small"))
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "pos_hits",
        "neg_hits",
        F.round(
            (F.col("pos_hits") - F.col("neg_hits")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("polarity"),
        F.when(F.col("pos_hits") > F.col("neg_hits"), "positive")
        .when(F.col("neg_hits") > F.col("pos_hits"), "negative")
        .otherwise("neutral")
        .alias("label"),
    )


_SEARCH_TERMS = ("fast", "table", "merge")
_SEARCH_TERMS_SQL = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)


@q(
    "keyword_search_ranked",
    f"""WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         FROM documents),
       tf AS (
         SELECT doc_id, tok, COUNT(*) AS tf
         FROM toks WHERE tok IN ({_SEARCH_TERMS_SQL})
         GROUP BY 1, 2),
       df AS (
         SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       n AS (SELECT COUNT(*) AS n_docs FROM documents),
       scored AS (
         SELECT tf.doc_id,
                COUNT(*) AS n_terms_hit,
                ROUND(SUM(tf.tf * ln(n.n_docs / df.df)), 6) AS score
         FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
         GROUP BY 1)
       SELECT doc_id, n_terms_hit, score
       FROM scored
       ORDER BY score DESC, doc_id ASC
       LIMIT 20""",
)
def keyword_search_ranked(spark, sf_dir):
    """Inverted-index-style keyword search: TF x log-IDF relevance for
    a 3-term query, top-20 documents. The term filter applies at
    tokenization (only query terms survive the map side), document
    frequencies are a tiny per-term aggregate joined back by
    broadcast, and the corpus size is a 1-row broadcast — the
    scatter-gather topology of a distributed search engine, with the
    posting-list build as the only doc-grain shuffle."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok").isin(*_SEARCH_TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))), 6
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


_TRIGRAMS_SQL = (
    "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' '))"
)


@q(
    "boilerplate_trigram_share",
    f"""WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
       sh AS (SELECT DISTINCT doc_id, unnest({_TRIGRAMS_SQL}) AS sh FROM tok),
       scored AS (SELECT doc_id, sh,
                         COUNT(*) OVER (PARTITION BY sh) AS df
                  FROM sh)
       SELECT doc_id,
              CAST(COUNT(*) AS INT) AS n_trigrams,
              CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS INT) AS n_boiler,
              ROUND(CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
                    / COUNT(*), 6) AS boiler_share
       FROM scored GROUP BY 1""",
)
def boilerplate_trigram_share(spark, sf_dir):
    """Cross-document boilerplate detection — the C4/RefinedWeb-style
    prune of spans that recur across many documents (nav chrome,
    license footers): per document, the fraction of its DISTINCT
    trigrams whose document frequency is >= 5. Distinct from
    fourgram_uniqueness (intra-doc repetition) and
    contamination_ngram_overlap (overlap vs a held-out benchmark).
    One lineage, tfidf-shaped: map-side array_distinct before the
    explode, document frequency as COUNT(*) OVER (PARTITION BY sh)
    on the exploded stream (no self-join, no recompute), then one
    doc-grain rollup."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    sh = tokd.select(
        "doc_id",
        F.explode(
            F.array_distinct(textfns.shingles(F.col("__toks"), 3))
        ).alias("sh"),
    )
    from pyspark.sql import Window

    scored = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )
    boiler = F.sum(F.when(F.col("df") >= 5, 1).otherwise(0))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_trigrams"),
        boiler.cast("int").alias("n_boiler"),
        F.round(boiler.cast("double") / F.count(F.lit(1)), 6).alias(
            "boiler_share"
        ),
    )


@q(
    "vocab_oov_rate",
    f"""WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents),
       freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
       vocab AS (SELECT t FROM freq ORDER BY c DESC, t ASC LIMIT 16)
       SELECT doc_id,
              CAST(COUNT(*) AS INT) AS n_tok,
              CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS INT)
                AS n_oov,
              ROUND(CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*), 6) AS oov_rate
       FROM tok LEFT JOIN vocab v ON tok.t = v.t
       GROUP BY 1""",
)
def vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage audit: induce a top-K vocabulary
    from corpus token frequencies (deterministic freq-desc/token-asc
    cutoff; K=16 sized to the fixture's tiny token domain — at real
    scale this is the 32k-128k tokenizer vocab) and score every
    document's out-of-vocabulary token rate. Two passes by
    construction — vocab induction is one token-grain aggregate whose
    top-K result broadcasts into the scoring pass's membership probe;
    the corpus-sized side never shuffles."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "doc_id", F.explode(textfns.tokens("text")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        freq.orderBy(F.desc("c"), F.asc("t"))
        .limit(16)
        .select("t")
        .withColumn("__iv", F.lit(1))
    )
    scored = tok.join(F.broadcast(vocab), "t", "left")
    oov = F.sum(F.when(F.col("__iv").isNull(), 1).otherwise(0))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tok"),
        oov.cast("int").alias("n_oov"),
        F.round(oov.cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


def _compression_oracle() -> str | None:
    """DuckDB oracle for the deflate quality gate. SQL has no zlib, so
    the per-doc deflate RATIOS are precomputed here from the same
    fixture the driver oracles against (sf0.01 by contract; override
    via SPARK_GRAFT_SIM_SF_DIR) and embedded as literals — the oracle
    then independently re-derives the per-source report (join to
    documents for the source, thresholds, aggregates). Returns None
    when the fixture is absent, falling back to the rows-only check."""
    import os
    import zlib

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["doc_id", "text"])
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    ratios = []
    for txt in texts:
        b = (txt or "").encode("utf-8")
        ratios.append(round(len(zlib.compress(b, 6)) / max(len(b), 1), 6))
    id_list = ",".join(str(i) for i in ids)
    ratio_list = ",".join(repr(r) for r in ratios)
    return f"""WITH r AS (SELECT unnest([{id_list}]) AS doc_id,
                      unnest(CAST([{ratio_list}] AS DOUBLE[])) AS ratio),
       j AS (SELECT d.source, r.ratio
             FROM documents d JOIN r USING (doc_id))
       SELECT source,
              COUNT(*)::BIGINT AS n_docs,
              ROUND(AVG(ratio), 4) AS avg_ratio,
              ROUND(MIN(ratio), 4) AS min_ratio,
              ROUND(MAX(ratio), 4) AS max_ratio,
              CAST(SUM(CASE WHEN ratio < 0.35 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_repetitive,
              CAST(SUM(CASE WHEN ratio > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_incompressible
       FROM j GROUP BY source ORDER BY source"""


# registered WITHOUT a static oracle: the fixture-bound oracle is
# recomputed per oracle_sql() call (see __spark_entry__), so a harness
# that points SPARK_GRAFT_SIM_SF_DIR elsewhere gets matching literals
@q("compression_ratio_quality", oracle=_compression_oracle)
def compression_ratio_quality(spark, sf_dir):
    """Compression-ratio quality gate (the RefinedWeb/Dolma-class
    signal the n-gram proxies approximate): deflate every document
    and bucket by compressed/raw byte ratio — very low means
    template/boilerplate repetition, very high means incompressible
    noise (base64, minified blobs); natural prose sits in a mid band.

    The deflate itself is the textbook Arrow-batched ``mapInPandas``
    hot path: pure per-row work, no state, no shuffle — each executor
    compresses only its own partition's documents and emits 3 small
    columns, so the corpus-sized text column never moves. The only
    shuffle is the final source-grain aggregate over (doc_id, ratio)
    rows. The DuckDB oracle (_compression_oracle) embeds the per-doc
    deflate ratios as fixture-derived literals — SQL has no zlib — and
    independently re-derives the per-source report from them."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents", fanout=True)

    def ratios(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            nraw = raw.str.len().clip(lower=1)
            nz = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "ratio": (nz / nraw).round(6),
                }
            )

    per_doc = docs.mapInPandas(ratios, "source string, ratio double")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
            F.sum(F.when(F.col("ratio") < 0.35, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repetitive"),
            F.sum(F.when(F.col("ratio") > 0.9, 1).otherwise(0))
            .cast("bigint")
            .alias("n_incompressible"),
        )
        .orderBy("source")
    )


# n-gram builders at each width, DuckDB side (same index-slice shape
# as _BIGRAMS_SQL / _TRIGRAMS_SQL above).
def _ngrams_sql(n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )


def _top_ngram_oracle() -> str:
    top = []
    for n in (2, 3):
        top.append(f"""
       g{n} AS (
         SELECT doc_id, source, length(text) AS chars,
                unnest({_ngrams_sql(n)}) AS gram
         FROM tok),
       c{n} AS (
         SELECT doc_id, source, chars, gram, COUNT(*) AS c
         FROM g{n} GROUP BY ALL),
       top{n} AS (
         SELECT doc_id, source,
                c * length(gram) / chars AS share
         FROM (SELECT *,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, gram) AS rn
               FROM c{n})
         WHERE rn = 1)""")
    return f"""WITH tok AS (
         SELECT doc_id, source, text, toks
         FROM (SELECT doc_id, source, text, {_TOKS_SQL} AS toks
               FROM documents)
         WHERE len(toks) >= 3),{",".join(top)}
       SELECT t2.source,
              COUNT(*) AS n_docs,
              ROUND(AVG(t2.share), 6) AS avg_top2_share,
              ROUND(AVG(t3.share), 6) AS avg_top3_share,
              CAST(SUM(CASE WHEN t2.share > 0.20 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_flag_top2,
              CAST(SUM(CASE WHEN t3.share > 0.18 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_flag_top3
       FROM top2 t2 JOIN top3 t3 USING (doc_id)
       GROUP BY 1"""


def _top_share(toks, text_col, n: int):
    """Character share of the single most frequent word n-gram —
    computed map-side: sort the shingle array, fold a run-length state
    that tracks the max run AND the length of the gram holding it
    (strictly-greater update = lexicographically-first argmax, the
    same tie-break as the oracle's ORDER BY c DESC, gram)."""
    sh = textfns.shingles(toks, n)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(0).cast("long").alias("mxlen"),
    )

    def _step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["mx"], run).alias("mx"),
            F.when(run > acc["mx"], F.length(g))
            .otherwise(acc["mxlen"])
            .alias("mxlen"),
        )

    top_chars = F.aggregate(
        F.array_sort(sh), init, _step, lambda a: a["mx"] * a["mxlen"]
    )
    return top_chars.cast("double") / F.length(text_col)


@q("top_ngram_char_share", _top_ngram_oracle())
def top_ngram_char_share(spark, sf_dir):
    """Gopher-rule repetition signal missing from the dup-ratio
    queries: the fraction of a document's characters covered by its
    single most frequent word 2-gram / 3-gram (Rae et al. 2021 §A1.1
    flags docs with top-2-gram share > 0.20, top-3-gram share > 0.18).
    Per-source report: mean shares plus the count of flagged docs.

    Scale shape: the per-doc top-gram count is a map-side
    array_sort + run-length fold over the shingle array (no explode —
    the oracle's unnest→GROUP BY would shuffle every n-gram of a
    100 TB corpus); the single Exchange carries one 5-tuple per
    source. Ties break to the lexicographically first gram on both
    engines (sorted-scan strictly-greater update ≡ ORDER BY c DESC,
    gram)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select(
        "source",
        "text",
        textfns.tokens("text").alias("__toks"),
    ).filter(F.size("__toks") >= 3)
    per_doc = tokd.select(
        "source",
        _top_share(F.col("__toks"), F.col("text"), 2).alias("s2"),
        _top_share(F.col("__toks"), F.col("text"), 3).alias("s3"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("s2"), 6).alias("avg_top2_share"),
        F.round(F.avg("s3"), 6).alias("avg_top3_share"),
        F.sum((F.col("s2") > 0.20).cast("long")).alias("n_flag_top2"),
        F.sum((F.col("s3") > 0.18).cast("long")).alias("n_flag_top3"),
    )


_CTX_LENS = (64, 128, 256, 512)

_PACKING_ORACLE = f"""WITH n AS (
         SELECT len({_TOKS_SQL}) AS n_tok FROM documents),
       x AS (
         SELECT c.context_len, n.n_tok
         FROM n CROSS JOIN (SELECT unnest([{", ".join(map(str, _CTX_LENS))}])
                            AS context_len) c)
       SELECT CAST(context_len AS INT) AS context_len,
              COUNT(*) AS n_docs,
              CAST(SUM(CASE WHEN n_tok > context_len THEN 1 ELSE 0 END)
                   AS BIGINT) AS docs_truncated,
              ROUND(CAST(SUM(GREATEST(n_tok - context_len, 0)) AS DOUBLE)
                    / SUM(n_tok), 6) AS trunc_token_share,
              ROUND(CAST(SUM(context_len - LEAST(n_tok, context_len))
                         AS DOUBLE) / COUNT(*), 6) AS avg_pad_tokens,
              CAST(CEIL(CAST(SUM(LEAST(n_tok, context_len)) AS DOUBLE)
                        / context_len) AS BIGINT) AS packed_seqs_lb
       FROM x GROUP BY context_len"""


@q("context_length_packing", _PACKING_ORACLE)
def context_length_packing(spark, sf_dir):
    """Context-length planning for sequence packing — the analysis run
    before choosing a training context length: for each candidate C,
    how many documents truncate, what share of tokens is lost to
    truncation, the mean padding tokens per sequence if packing is
    one-doc-per-sequence, and the concat-packing lower bound on
    sequence count (ceil of kept tokens / C). (Padding is reported in
    tokens, not as a share of C*n_docs — that quotient's power-of-two
    denominator lands exactly on ROUND(.,6) half-way points, where
    Spark and DuckDB round the nearest-double differently.) Pure arithmetic on the
    per-doc token count, so a 100 TB corpus contributes one long per
    doc map-side; the 4x candidate fan-out happens on that long, not
    on the text, and the single Exchange carries 4 aggregate rows."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    ntok = docs.select(F.size(textfns.tokens("text")).alias("n_tok"))
    fan = ntok.select(
        "n_tok",
        F.explode(
            F.array(*[F.lit(c) for c in _CTX_LENS])
        ).alias("context_len"),
    )
    c = F.col("context_len")
    kept = F.sum(F.least(F.col("n_tok"), c))
    return fan.groupBy(c.cast("int").alias("context_len")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_tok") > c).cast("long")).alias("docs_truncated"),
        F.round(
            F.sum(F.greatest(F.col("n_tok") - c, F.lit(0))).cast("double")
            / F.sum("n_tok"),
            6,
        ).alias("trunc_token_share"),
        F.round(
            F.sum(c - F.least(F.col("n_tok"), c)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_pad_tokens"),
        F.ceil(kept.cast("double") / F.first(c)).cast("bigint").alias(
            "packed_seqs_lb"
        ),
    )



@q(
    "gopher_repetition_filters",
    f"""WITH tok AS (SELECT doc_id, source, {_TOKS_SQL} AS toks
                     FROM documents),
       base AS (SELECT doc_id, source, len(toks) AS n_tok, toks
                FROM tok WHERE len(toks) > 0),
       grams AS (SELECT doc_id, unnest(shl) AS g,
                        unnest(range(0, len(shl))) AS pos0
                 FROM (SELECT doc_id, {_BIGRAMS_SQL} AS shl
                       FROM base)),
       cnt AS (SELECT doc_id, g, pos0,
                      COUNT(*) OVER (PARTITION BY doc_id, g) AS c
               FROM grams),
       rep AS (SELECT doc_id, pos0 FROM cnt WHERE c > 1),
       brk AS (SELECT doc_id, pos0,
                      CASE WHEN lag(pos0) OVER w IS NULL
                                OR pos0 - lag(pos0) OVER w > 2
                           THEN 1 ELSE 0 END AS is_brk
               FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos0)),
       tagged AS (SELECT doc_id, pos0,
                         SUM(is_brk) OVER (PARTITION BY doc_id
                                           ORDER BY pos0
                                           ROWS UNBOUNDED PRECEDING)
                           AS isl
                  FROM brk),
       per_doc AS (SELECT doc_id, SUM(cov) AS covered FROM (
                     SELECT doc_id, isl,
                            MAX(pos0) - MIN(pos0) + 2 AS cov
                     FROM tagged GROUP BY 1, 2) GROUP BY 1),
       topw AS (SELECT doc_id, MAX(c) AS top_cnt FROM (
                  SELECT doc_id, COUNT(*) AS c
                  FROM (SELECT doc_id, unnest(toks) AS w FROM base)
                  GROUP BY doc_id, w) GROUP BY 1),
       alldocs AS (SELECT b.source, b.n_tok,
                          COALESCE(p.covered, 0) AS covered,
                          t.top_cnt
                   FROM base b
                   LEFT JOIN per_doc p USING (doc_id)
                   JOIN topw t USING (doc_id))
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COUNT(CASE WHEN covered * 10 > n_tok * 3 THEN 1 END)
                   AS BIGINT) AS n_flag_dupgram,
              CAST(COUNT(CASE WHEN top_cnt * 5 > n_tok THEN 1 END)
                   AS BIGINT) AS n_flag_topword,
              CAST(COUNT(CASE WHEN covered * 10 <= n_tok * 3
                               AND top_cnt * 5 <= n_tok THEN 1 END)
                   AS BIGINT) AS n_kept,
              ROUND(AVG(CAST(covered AS DOUBLE) / n_tok), 4)
                AS avg_dup_share,
              ROUND(AVG(CAST(top_cnt AS DOUBLE) / n_tok), 4)
                AS avg_top_share
       FROM alldocs GROUP BY 1""",
)
def gopher_repetition_filters(spark, sf_dir):
    """Within-document repetition gates in the style of Gopher's
    quality heuristics (Rae et al. 2021, public, Table A1): a
    document is flagged when (a) more than 30 pct of its tokens are
    covered by 2-grams that occur MORE THAN ONCE INSIDE THE SAME
    document (the dup-2-gram variant of the rule — the gram size
    with discriminative signal on this corpus's doc lengths) (overlapping/adjacent repeats merged into islands so
    coverage never double-counts — the same gaps-and-islands as the
    cross-doc ExactSubstr query, but at (doc, gram) grain), or (b)
    its single most frequent token exceeds 20 pct of all tokens.
    Thresholds compare by integer cross-multiplication — no float
    edge. The corpus's lines are synthetic single-liners, so the
    line/paragraph variants of the rule collapse; the n-gram and
    top-token variants are the meaningful ones and are what this
    implements. Reported per source: doc counts, per-gate flag
    counts, kept count, mean shares.

    Scale shape: both signals are DOC-LOCAL — the 2-gram repeat
    count is a window keyed (doc_id, gram) and the islands/top-word
    windows key on doc_id, so every shuffle partitions by document
    and the reduction happens map-side first. No corpus-global
    state at all (unlike the cross-doc dedup family): at 100 TB
    this is one explode + two doc-keyed shuffles, embarrassingly
    data-parallel."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    base = docs.select(
        "doc_id", "source", textfns.tokens("text").alias("__toks")
    ).select(
        "doc_id", "source", F.size("__toks").alias("n_tok"), "__toks"
    ).filter(F.col("n_tok") > 0)
    grams = base.select(
        "doc_id",
        F.posexplode(textfns.shingles(F.col("__toks"), 2)).alias(
            "pos0", "g"
        ),
    )
    rep = (
        grams.withColumn(
            "__c", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "g"))
        )
        .filter(F.col("__c") > 1)
        .select("doc_id", "pos0")
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    brk = F.when(
        F.lag("pos0").over(w).isNull()
        | (F.col("pos0") - F.lag("pos0").over(w) > 2),
        1,
    ).otherwise(0)
    per_doc = (
        rep.withColumn(
            "__isl",
            F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "__isl")
        .agg((F.max("pos0") - F.min("pos0") + 2).alias("__cov"))
        .groupBy("doc_id")
        .agg(F.sum("__cov").alias("covered"))
    )
    topw = (
        base.select("doc_id", F.explode("__toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    alldocs = (
        base.join(per_doc, "doc_id", "left")
        .join(topw, "doc_id")
        .select(
            "source",
            "n_tok",
            F.coalesce("covered", F.lit(0)).alias("covered"),
            "top_cnt",
        )
    )
    dup_flag = F.col("covered") * 10 > F.col("n_tok") * 3
    top_flag = F.col("top_cnt") * 5 > F.col("n_tok")
    return alldocs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(dup_flag, 1)).alias("n_flag_dupgram"),
        F.count(F.when(top_flag, 1)).alias("n_flag_topword"),
        F.count(F.when(~dup_flag & ~top_flag, 1)).alias("n_kept"),
        F.round(
            F.avg(F.col("covered").cast("double") / F.col("n_tok")), 4
        ).alias("avg_dup_share"),
        F.round(
            F.avg(F.col("top_cnt").cast("double") / F.col("n_tok")), 4
        ).alias("avg_top_share"),
    )


@q(
    "token_entropy_rate",
    f"""WITH tok AS (SELECT source, {_TOKS_SQL} AS toks FROM documents),
       uni AS (SELECT source, unnest(toks) AS w FROM tok),
       bg AS (SELECT source, unnest({_BIGRAMS_SQL}) AS bg FROM tok),
       u1 AS (SELECT source, w, COUNT(*) AS c FROM uni GROUP BY 1, 2),
       u1t AS (SELECT source, SUM(c) AS n FROM u1 GROUP BY 1),
       h1 AS (SELECT u1.source,
                     -SUM((c / CAST(n AS DOUBLE))
                          * ln(c / CAST(n AS DOUBLE))) AS h1,
                     CAST(MAX(n) AS BIGINT) AS n_tokens
              FROM u1 JOIN u1t ON u1.source = u1t.source GROUP BY 1),
       b1 AS (SELECT source, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       b1t AS (SELECT source, SUM(c) AS n FROM b1 GROUP BY 1),
       h2 AS (SELECT b1.source,
                     -SUM((c / CAST(n AS DOUBLE))
                          * ln(c / CAST(n AS DOUBLE))) AS h2
              FROM b1 JOIN b1t ON b1.source = b1t.source GROUP BY 1)
       SELECT h1.source, h1.n_tokens,
              ROUND(h1.h1, 4) AS unigram_entropy,
              ROUND(h2.h2, 4) AS bigram_entropy,
              ROUND(h2.h2 - h1.h1, 4) AS entropy_rate,
              ROUND(EXP(h2.h2 - h1.h1), 4) AS perplexity_rate
       FROM h1 JOIN h2 ON h1.source = h2.source""",
)
def token_entropy_rate(spark, sf_dir):
    """Conditional token entropy per source: H(w2|w1) = H(bigram) -
    H(unigram) — the information a token carries GIVEN its
    predecessor, i.e. the corpus's intrinsic entropy RATE (and
    exp(rate) its unigram-conditional perplexity). Sources whose rate
    collapses toward 0 are templated/boilerplate-heavy; a rising rate
    between crawl snapshots flags noise injection. One tokenization
    feeds both the unigram and bigram streams; each entropy is a
    map-side-combined count onto vocabulary-sized keys — the classic
    100 TB shape. Both engines compute -sum(p ln p) over identical
    exact count ratios, rounded at emission."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select("source", textfns.tokens("text").alias("toks"))
    uni = tok.select("source", F.explode("toks").alias("w"))
    bg = tok.select(
        "source", F.explode(textfns.shingles(F.col("toks"), 2)).alias("bg")
    )

    def entropy(df, key):
        c = df.groupBy("source", key).agg(F.count(F.lit(1)).alias("c"))
        t = c.groupBy("source").agg(F.sum("c").alias("n"))
        p = F.col("c") / F.col("n").cast("double")
        return (
            c.join(t, "source")
            .groupBy("source")
            .agg(
                (-F.sum(p * F.log(p))).alias("h"),
                F.max("n").cast("long").alias("n_tokens"),
            )
        )
    h1 = entropy(uni, "w").withColumnRenamed("h", "h1")
    h2 = entropy(bg, "bg").select(
        "source", F.col("h").alias("h2")
    )
    return (
        h1.join(h2, "source")
        .select(
            "source",
            "n_tokens",
            F.round("h1", 4).alias("unigram_entropy"),
            F.round("h2", 4).alias("bigram_entropy"),
            F.round(F.col("h2") - F.col("h1"), 4).alias("entropy_rate"),
            F.round(F.exp(F.col("h2") - F.col("h1")), 4).alias(
                "perplexity_rate"
            ),
        )
    )


@q(
    "perplexity_bucket_curriculum",
    f"""WITH bg AS (
         SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg
         FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)),
       bgc AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY 1),
       w1c AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
               FROM bg GROUP BY 1),
       scored AS (
         SELECT doc_id,
                COUNT(*) AS n_bigrams,
                ROUND(AVG(ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE))),
                      4) AS s
         FROM bg
         JOIN bgc USING (bg)
         JOIN w1c ON split_part(bg, ' ', 1) = w1c.w1
         GROUP BY doc_id),
       bucketed AS (
         SELECT doc_id, n_bigrams, s,
                NTILE(10) OVER (ORDER BY s, doc_id) AS decile
         FROM scored),
       agg AS (
         SELECT decile,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                ROUND(AVG(s), 4) AS mean_surprisal,
                CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
         FROM bucketed GROUP BY 1),
       wts AS (
         SELECT decile, n_docs, mean_surprisal, n_bigrams,
                EXP(-mean_surprisal / 2.0) AS raw_w
         FROM agg)
       SELECT CAST(decile AS INT) AS decile, n_docs, mean_surprisal,
              n_bigrams,
              ROUND(n_bigrams / CAST(SUM(n_bigrams) OVER () AS DOUBLE),
                    6) AS token_share,
              ROUND(raw_w / SUM(raw_w) OVER (), 6) AS sample_weight
       FROM wts""",
)
def perplexity_bucket_curriculum(spark, sf_dir):
    """Curriculum/mixture planning by perplexity bucket: every doc's
    bigram-LM mean surprisal (the same self-trained MLE as
    bigram_lm_surprisal) deciled with a deterministic (s, doc_id)
    tiebreak, then per decile the doc count, mean surprisal, token
    share, and a temperature-weighted sampling weight
    w ∝ exp(-s̄/T), T=2 — the knob that downsamples the noisy tail
    without dropping it (softer than a hard perplexity filter).
    Per-decile weights normalize over the 10-row aggregate, so the
    second pass is window arithmetic over a constant-size table."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    bg = tokd.select(
        "doc_id", F.explode(textfns.shingles(F.col("__toks"), 2)).alias("bg")
    )
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    w1c = bg.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    scored = (
        bg.join(bgc, "bg")
        .join(w1c, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(F.col("c1").cast("double"))
                    - F.log(F.col("c2").cast("double"))
                ),
                4,
            ).alias("s"),
        )
    )
    bucketed = scored.withColumn(
        # bounded-grain: doc-grain global deciles; 100 TB path = cut
        # points from approxQuantile then a broadcast range join
        "decile", F.ntile(10).over(Window.orderBy("s", "doc_id"))
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("s"), 4).alias("mean_surprisal"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
    )
    w_all = Window.partitionBy()
    raw_w = F.exp(-F.col("mean_surprisal") / 2.0)
    return agg.select(
        F.col("decile").cast("int").alias("decile"),
        "n_docs",
        "mean_surprisal",
        "n_bigrams",
        F.round(
            F.col("n_bigrams")
            / F.sum("n_bigrams").over(w_all).cast("double"),
            6,
        ).alias("token_share"),
        F.round(raw_w / F.sum(raw_w).over(w_all), 6).alias("sample_weight"),
    )


@q(
    "roc_auc_doc_length",
    """WITH scored AS (
         SELECT n_chars AS s,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       per_s AS (
         SELECT s, SUM(y) AS k1, COUNT(*) - SUM(y) AS k0,
                COUNT(*) AS c
         FROM scored GROUP BY 1),
       ranked AS (
         SELECT k1, c,
                COALESCE(SUM(c) OVER (ORDER BY s
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS prior
         FROM per_s),
       tot AS (SELECT SUM(k1) AS n1, SUM(k0) AS n0 FROM per_s),
       rsum AS (
         SELECT SUM(k1 * (2 * (prior + 1) + c - 1)) AS r1_x2
         FROM ranked)
       SELECT CAST(n1 AS BIGINT) AS n_pos,
              CAST(n0 AS BIGINT) AS n_neg,
              ROUND((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2)
                    / (n1 * n0), 4) AS auc,
              ROUND(2 * ((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2)
                         / (n1 * n0)) - 1, 4) AS gini
       FROM rsum CROSS JOIN tot""",
)
def roc_auc_doc_length(spark, sf_dir):
    """Exact ROC-AUC of a one-feature classifier (document length
    predicting lang = 'en') via the rank-sum identity
    AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) — the Mann-Whitney relation, so
    the whole curve-integral reduces to ONE doubled-integer rank sum
    with average-rank ties (no threshold sweep, no per-point
    trapezoid). This is the classifier-eval primitive the quality-
    classifier pipeline needs at 100 TB: a grouped count per distinct
    score + one cumulative window, never a sort of raw rows. AUC≈0.5
    here IS the finding (length alone does not identify English) —
    the eval machinery is the deliverable."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    scored = docs.select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    per_s = scored.groupBy("s").agg(
        F.sum("y").alias("k1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("k0"),
        F.count(F.lit(1)).alias("c"),
    )
    # bounded-grain: distinct-score grain after groupBy (scores are
    # rounded features, not corpus rows)
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_s.select(
        "k1", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("prior")
    )
    tot = per_s.agg(F.sum("k1").alias("n1"), F.sum("k0").alias("n0"))
    rsum = ranked.agg(
        F.sum(
            F.col("k1") * (2 * (F.col("prior") + 1) + F.col("c") - 1)
        ).alias("r1_x2")
    )
    auc = (
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    ) / (F.col("n1") * F.col("n0"))
    return rsum.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.round(auc, 4).alias("auc"),
        F.round(2 * auc - 1, 4).alias("gini"),
    )
