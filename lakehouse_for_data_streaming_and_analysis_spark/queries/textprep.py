"""Corpus-statistics operators for pretraining-data preparation that
profile the token DISTRIBUTION itself: Zipf rank-frequency shape,
cross-source Jensen-Shannon drift, lexical diversity (TTR / hapax),
token burstiness (over-dispersion), readability, and token-length
profiles.

These complement the per-document quality gates (queries/curation.py),
the n-gram/LM statistics (queries/lmstats.py), and the dedup family
(operators/dedup.py): here the unit of analysis is the source or the
vocabulary term, the aggregates a corpus curator watches for
distribution shift between crawl snapshots or between candidate
mixtures.

Scale story (100 TB): every query is one explode of the token stream
followed by map-side-combined aggregates onto VOCABULARY-sized or
SOURCE-sized keys — the shuffled payload is counts per (source, token),
orders of magnitude smaller than the corpus. The pairwise JS matrix
joins two copies of the per-source distribution table (sources x vocab
rows, kilobytes), never the corpus. All DuckDB-oracle-backed; float
expressions are written identically on both engines and rounded before
hash-compare.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as textfns
from . import registry

QUERIES, ORACLES, q = registry.module()


_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _tok_stream(spark, sf_dir, *cols):
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return docs.select(
        *cols, F.explode(textfns.tokens("text")).alias("tok")
    )


@q(
    "zipf_rank_frequency",
    f"""WITH tk AS (SELECT source, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       cnt AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       rk AS (SELECT source, tok, c,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY c DESC, tok) AS rnk
              FROM cnt)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS vocab,
              ROUND(SUM(CASE WHEN rnk <= 5 THEN c ELSE 0 END)
                    / CAST(SUM(c) AS DOUBLE), 6) AS top5_share,
              ROUND(SUM(CASE WHEN rnk > 20 THEN c ELSE 0 END)
                    / CAST(SUM(c) AS DOUBLE), 6) AS tail_share,
              ROUND(regr_slope(ln(CAST(c AS DOUBLE)),
                               ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope
       FROM rk GROUP BY source""",
)
def zipf_rank_frequency(spark, sf_dir):
    """Zipf rank-frequency profile per source: vocabulary size, head
    mass (top-5 ranks), tail mass (ranks > 20), and the log-log
    rank-frequency slope (regr_slope of ln(count) on ln(rank) — a
    natural corpus would sit near -1; synthetic or boilerplate-heavy
    text flattens). Corpus curators track this per crawl snapshot to
    catch template explosions.

    One token explode -> per-(source, token) counts (map-side
    combine), a rank window over the VOCABULARY-sized count table,
    then a per-source fold. Nothing after the first aggregate is
    proportional to corpus size."""
    cnt = (
        _tok_stream(spark, sf_dir, "source")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = cnt.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
        ),
    )
    return rk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.round(
            F.sum(F.when(F.col("rnk") <= 5, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c").cast("double"),
            6,
        ).alias("top5_share"),
        F.round(
            F.sum(F.when(F.col("rnk") > 20, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c").cast("double"),
            6,
        ).alias("tail_share"),
        F.round(
            F.regr_slope(
                F.log(F.col("c").cast("double")),
                F.log(F.col("rnk").cast("double")),
            ),
            6,
        ).alias("zipf_slope"),
    )


@q(
    "js_divergence_sources",
    f"""WITH tk AS (SELECT source, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       cnt AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       tot AS (SELECT source, SUM(c) AS t FROM cnt GROUP BY 1),
       grid AS (SELECT s.source, v.tok,
                       COALESCE(c.c, 0) / CAST(t.t AS DOUBLE) AS p
                FROM (SELECT DISTINCT source FROM cnt) s
                CROSS JOIN (SELECT DISTINCT tok FROM cnt) v
                LEFT JOIN cnt c ON c.source = s.source AND c.tok = v.tok
                JOIN tot t ON t.source = s.source),
       pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                        a.p AS p, b.p AS q
                 FROM grid a JOIN grid b
                   ON a.tok = b.tok AND a.source < b.source)
       SELECT src_a, src_b,
              ROUND(SUM(CASE WHEN p > 0
                             THEN 0.5 * p * ln(2.0 * p / (p + q))
                             ELSE 0 END)
                  + SUM(CASE WHEN q > 0
                             THEN 0.5 * q * ln(2.0 * q / (p + q))
                             ELSE 0 END), 6) AS js_div
       FROM pairs GROUP BY 1, 2""",
)
def js_divergence_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the symmetric, bounded drift metric used
    to compare crawl snapshots / candidate mixture components (KL, its
    one-sided cousin, is source_unigram_kl in lmstats).

    The corpus collapses to a (source x vocab) probability grid in one
    aggregate; the pair matrix is a self-equi-join of that grid on the
    token key (sources^2 x vocab rows — kilobytes — never a row-level
    cross product). Zero-probability cells enter via a constant-key
    expansion of the distinct source/token sets, so the equi-join
    stays total without an outer join per pair."""
    cnt = (
        _tok_stream(spark, sf_dir, "source")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    srcs = cnt.select("source").distinct().withColumn("k", F.lit(1))
    vocab = cnt.select("tok").distinct().withColumn("k", F.lit(1))
    grid = (
        srcs.join(vocab, "k")
        .drop("k")
        .join(cnt, ["source", "tok"], "left")
        .join(tot, "source")
        .select(
            "source",
            "tok",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("t").cast("double"))
            .alias("p"),
        )
    )
    a = grid.select(
        F.col("source").alias("src_a"), "tok", F.col("p").alias("p")
    )
    b = grid.select(
        F.col("source").alias("src_b"), "tok", F.col("p").alias("q")
    )
    pairs = a.join(b, "tok").filter(F.col("src_a") < F.col("src_b"))
    half_p = F.sum(
        F.when(
            F.col("p") > 0,
            0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))),
        ).otherwise(F.lit(0.0))
    )
    half_q = F.sum(
        F.when(
            F.col("q") > 0,
            0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))),
        ).otherwise(F.lit(0.0))
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.round(half_p + half_q, 6).alias("js_div")
    )


@q(
    "token_length_histogram",
    f"""WITH tk AS (SELECT source, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       c AS (SELECT source, length(tok) AS tok_len, COUNT(*) AS n
             FROM tk GROUP BY 1, 2),
       t AS (SELECT source, SUM(n) AS tot FROM c GROUP BY 1)
       SELECT c.source, CAST(tok_len AS INT) AS tok_len,
              CAST(n AS BIGINT) AS n_tokens,
              ROUND(n / CAST(tot AS DOUBLE), 6) AS share
       FROM c JOIN t ON c.source = t.source""",
)
def token_length_histogram(spark, sf_dir):
    """Token-length distribution per source (count + share per exact
    length). Length profiles are a cheap tokenizer-health check —
    a drift toward very long 'tokens' usually means markup or
    concatenation bugs upstream of BPE. Map-side combine onto
    (source, length) keys; the share join touches only the
    source-sized totals table."""
    c = (
        _tok_stream(spark, sf_dir, "source")
        .groupBy("source", F.length("tok").cast("int").alias("tok_len"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    return c.join(t, "source").select(
        "source",
        "tok_len",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(F.col("n") / F.col("tot").cast("double"), 6).alias("share"),
    )


@q(
    "flesch_reading_ease",
    f"""WITH d AS (SELECT doc_id, source, {_TOKS_SQL} AS toks
                   FROM documents),
       tk AS (SELECT doc_id, source, unnest(toks) AS tok FROM d),
       sy AS (SELECT doc_id, source,
                     COUNT(*) AS words,
                     SUM(greatest(1, len(regexp_extract_all(tok,
                                                            '[aeiouy]+'))))
                       AS syllables
              FROM tk GROUP BY 1, 2),
       f AS (SELECT doc_id, source, words, syllables,
                    CAST(ceil(words / 15.0) AS BIGINT) AS sentences,
                    206.835
                      - 1.015 * (words / ceil(words / 15.0))
                      - 84.6 * (syllables / CAST(words AS DOUBLE)) AS fre
             FROM sy)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              ROUND(AVG(syllables / CAST(words AS DOUBLE)), 6)
                AS avg_syllables_per_word,
              ROUND(AVG(fre), 4) AS avg_reading_ease
       FROM f GROUP BY source""",
)
def flesch_reading_ease(spark, sf_dir):
    """Flesch reading-ease per source, with syllables approximated as
    vowel-group runs (max 1 per word) and sentences as 15-token
    spans — the fixture corpus carries no punctuation, so the sentence
    proxy is deterministic on both engines. Readability is a standard
    document-quality feature alongside the stopword/length gates.

    One explode, per-doc word/syllable fold, then a source-level
    average — the formula evaluates per document BEFORE averaging so
    long docs don't dominate."""
    tk = _tok_stream(spark, sf_dir, "doc_id", "source")
    sy = tk.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("words"),
        F.sum(
            F.greatest(
                F.lit(1),
                F.size(
                    F.regexp_extract_all(
                        F.col("tok"), F.lit("[aeiouy]+"), F.lit(0)
                    )
                ),
            )
        ).alias("syllables"),
    )
    fre = (
        F.lit(206.835)
        - 1.015 * (F.col("words") / F.ceil(F.col("words") / 15.0))
        - 84.6 * (F.col("syllables") / F.col("words").cast("double"))
    )
    f = sy.withColumn("fre", fre)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.avg(F.col("syllables") / F.col("words").cast("double")), 6
        ).alias("avg_syllables_per_word"),
        F.round(F.avg("fre"), 4).alias("avg_reading_ease"),
    )


@q(
    "ttr_lexical_diversity",
    f"""WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2)
       SELECT doc_id,
              CAST(SUM(c) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS n_types,
              ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
              ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    / CAST(SUM(c) AS DOUBLE), 6) AS hapax_share
       FROM c GROUP BY doc_id""",
)
def ttr_lexical_diversity(spark, sf_dir):
    """Type-token ratio and hapax-legomena share per document — the
    classic lexical-diversity pair: templated/spun text scores low
    TTR, OCR noise scores an anomalously high hapax share. Both feed
    document-quality classifiers next to the curation gates.

    Explode -> per-(doc, token) counts with map-side combine -> one
    doc-keyed fold. The doc key rides the same shuffle partitioning
    end to end."""
    c = (
        _tok_stream(spark, sf_dir, "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            F.count(F.lit(1)) / F.sum("c").cast("double"), 6
        ).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            / F.sum("c").cast("double"),
            6,
        ).alias("hapax_share"),
    )


@q(
    "token_burstiness_dispersion",
    f"""WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       dc AS (SELECT tok, doc_id, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
       st AS (SELECT tok, SUM(c) AS total,
                     SUM(c * c) AS sumsq,
                     COUNT(*) AS docs_with
              FROM dc GROUP BY tok),
       top AS (SELECT tok, total, sumsq, docs_with
               FROM st ORDER BY total DESC, tok LIMIT 15)
       SELECT tok, CAST(total AS BIGINT) AS total_count,
              CAST(docs_with AS BIGINT) AS docs_with,
              ROUND(total / CAST(n AS DOUBLE), 6) AS mean_per_doc,
              ROUND((sumsq / CAST(n AS DOUBLE)
                     - (total / CAST(n AS DOUBLE))
                       * (total / CAST(n AS DOUBLE)))
                    / (total / CAST(n AS DOUBLE)), 6) AS dispersion
       FROM top, nd""",
)
def token_burstiness_dispersion(spark, sf_dir):
    """Burstiness (variance-to-mean dispersion index) of the corpus's
    15 most frequent tokens: content words clump within documents
    (dispersion > 1), function words spread evenly (~1) — a
    distribution-shape signal dedup and boilerplate detectors use to
    pick discriminative shingle vocabulary.

    The zero-inclusive variance needs NO zero-filled join: with N the
    corpus doc count (a 1-row aggregate, broadcast), var = E[c^2] -
    E[c]^2 folds from sum(c) and sum(c^2) over only the nonzero
    per-doc counts."""
    dc = (
        _tok_stream(spark, sf_dir, "doc_id")
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(
        F.countDistinct("doc_id").cast("double").alias("n")
    ).withColumn("k", F.lit(1))
    st = dc.groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
        F.count(F.lit(1)).alias("docs_with"),
    )
    top = st.orderBy(F.desc("total"), F.asc("tok")).limit(15)
    mean = F.col("total") / F.col("n")
    return (
        top.withColumn("k", F.lit(1))
        .join(F.broadcast(nd), "k")
        .select(
            "tok",
            F.col("total").cast("long").alias("total_count"),
            F.col("docs_with").cast("long").alias("docs_with"),
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(
                (F.col("sumsq") / F.col("n") - mean * mean) / mean, 6
            ).alias("dispersion"),
        )
    )


@q(
    "ngram_novelty_curve",
    f"""WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
       tg AS (SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS g
              FROM d),
       firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM tg GROUP BY g),
       per_doc AS (
         SELECT tg.doc_id,
                COUNT(*) AS n_grams,
                SUM(CASE WHEN f.first_doc = tg.doc_id
                         THEN 1 ELSE 0 END) AS novel
         FROM tg JOIN firsts f ON tg.g = f.g
         GROUP BY tg.doc_id)
       SELECT CAST(doc_id // 50 AS BIGINT) AS doc_bucket,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_grams) AS BIGINT) AS total_grams,
              ROUND(SUM(novel) / CAST(SUM(n_grams) AS DOUBLE), 6)
                AS novel_share
       FROM per_doc GROUP BY 1""",
)
def ngram_novelty_curve(spark, sf_dir):
    """Novelty-decay curve: processing documents in doc_id order, what
    share of each bucket's trigrams has never been seen in any
    earlier document? A healthy diverse corpus decays slowly; a
    template-dominated crawl collapses toward zero — the saturation
    diagnostic that tells a curator when additional data stops adding
    information.

    Shape: NO join back to the token stream. The stream folds once
    onto (gram, doc) counts; per-doc totals and per-gram first-doc
    (min_by keeps the first doc's own occurrence count alongside)
    both derive from that aggregate, and the novel counts fold back
    doc-keyed — so the corpus-sized stream is shuffled exactly once,
    and everything after is gram- or doc-grain. (The first cut
    re-joined the raw stream against the firsts table: a second full
    shuffle that measured 11x wall at the sf1 decade; this form
    removes it.)"""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tg = docs.select(
        "doc_id",
        F.explode(
            textfns.shingles(textfns.tokens("text"), 3)
        ).alias("g"),
    )
    gc = tg.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    totals = gc.groupBy("doc_id").agg(F.sum("c").alias("n_grams"))
    firsts = gc.groupBy("g").agg(
        F.min_by(F.struct("doc_id", "c"), "doc_id").alias("f")
    )
    novel = firsts.groupBy(F.col("f.doc_id").alias("doc_id")).agg(
        F.sum("f.c").alias("novel")
    )
    per_doc = totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("novel"), F.lit(0)).alias("novel"),
    )
    return per_doc.groupBy(
        (F.col("doc_id") / 50).cast("long").alias("doc_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_grams").cast("long").alias("total_grams"),
        F.round(
            F.sum("novel") / F.sum("n_grams").cast("double"), 6
        ).alias("novel_share"),
    )


@q(
    "dedup_cluster_size_histogram",
    """WITH cl AS (SELECT md5(text) AS h, COUNT(*) AS sz
                   FROM documents GROUP BY 1),
       tot AS (SELECT SUM(sz) AS n_docs FROM cl)
       SELECT CAST(sz AS BIGINT) AS cluster_size,
              CAST(COUNT(*) AS BIGINT) AS n_clusters,
              CAST(SUM(sz) AS BIGINT) AS n_docs,
              ROUND(SUM(sz - 1) / CAST(tot.n_docs AS DOUBLE), 6)
                AS removable_share
       FROM cl, tot GROUP BY sz, tot.n_docs""",
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster SIZE distribution — the shape report a dedup
    run is judged by: how many exact-duplicate clusters exist at each
    size, how many documents they hold, and what share of the corpus
    each size class would shed under keep-one-per-cluster
    (exact_dedup_groups lists the clusters; this is their census).
    A long tail of large clusters means template explosion; all-1s
    means the corpus is already clean. One hash-keyed fold to
    clusters, then a size-keyed fold of the CLUSTER table — nothing
    after the first aggregate is corpus-proportional."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    cl = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    tot = cl.agg(F.sum("sz").cast("double").alias("n_docs_tot")).withColumn(
        "k", F.lit(1)
    )
    return (
        cl.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("docs_in"),
            F.sum(F.col("sz") - 1).alias("removable"),
        )
        .withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("docs_in").cast("long").alias("n_docs"),
            F.round(
                F.col("removable") / F.col("n_docs_tot"), 6
            ).alias("removable_share"),
        )
    )


@q(
    "tokenizer_fertility_stats",
    f"""WITH d AS (
         SELECT source,
                length(regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
                length({_TOKS_SQL}) AS n_ws
         FROM documents)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              ROUND(SUM(n_bpe) / CAST(SUM(n_ws) AS DOUBLE), 6)
                AS corpus_fertility,
              ROUND(AVG(n_bpe / CAST(n_ws AS DOUBLE)), 6)
                AS avg_doc_fertility,
              ROUND(MAX(n_bpe / CAST(n_ws AS DOUBLE)), 6)
                AS max_doc_fertility
       FROM d GROUP BY source""",
)
def tokenizer_fertility_stats(spark, sf_dir):
    """Tokenizer fertility per source: pre-tokenizer pieces per
    whitespace word (corpus-weighted AND per-doc averaged) — the
    budget number that converts 'documents' into 'training tokens'
    and flags sources whose text shape (digits, punctuation runs)
    will fragment under BPE. Pure map-side expression fold; one
    source-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    d = docs.select(
        "source",
        F.size(textfns.bpe_ish_tokens("text")).alias("n_bpe"),
        F.size(textfns.tokens("text")).alias("n_ws"),
    )
    ratio = F.col("n_bpe") / F.col("n_ws").cast("double")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum("n_bpe") / F.sum("n_ws").cast("double"), 6
        ).alias("corpus_fertility"),
        F.round(F.avg(ratio), 6).alias("avg_doc_fertility"),
        F.round(F.max(ratio), 6).alias("max_doc_fertility"),
    )


@q(
    "normalized_exact_dedup",
    """WITH norm AS (
         SELECT doc_id, source,
                md5(text) AS raw_h,
                md5(regexp_replace(regexp_replace(lower(trim(text)),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_h
         FROM documents)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COUNT(DISTINCT raw_h) AS BIGINT) AS raw_clusters,
              CAST(COUNT(DISTINCT norm_h) AS BIGINT) AS norm_clusters,
              CAST(COUNT(DISTINCT raw_h) - COUNT(DISTINCT norm_h)
                   AS BIGINT) AS dupes_revealed_by_norm,
              CAST(COUNT(*) - COUNT(DISTINCT norm_h) AS BIGINT)
                AS removable_docs
       FROM norm GROUP BY source""",
)
def normalized_exact_dedup(spark, sf_dir):
    """Normalization-aware exact-dedup census per source: cluster
    counts under the RAW text hash vs under a canonical form
    (lowercase, punctuation stripped, whitespace collapsed) — the gap
    is the duplicate mass that raw exact-dedup MISSES and
    normalization reveals (trivially re-encoded copies: casing,
    smart-quote, spacing variants — the first escalation on the
    real-pipeline dedup ladder, before MinHash pays for shingles).
    One scan, two hash aggregates on the same pass; at 100 TB both
    are hash-groupBys on digest keys, never text comparisons.
    Cite: reference has no dedup surface; this extends the brief's
    training-pipeline mandate alongside exact_dedup_groups."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    norm_h = F.md5(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", ""
            ),
            " +",
            " ",
        )
    )
    n = docs.select(
        "source", F.md5("text").alias("raw_h"), norm_h.alias("norm_h")
    )
    return n.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("raw_h").cast("long").alias("raw_clusters"),
        F.count_distinct("norm_h").cast("long").alias("norm_clusters"),
        (F.count_distinct("raw_h") - F.count_distinct("norm_h"))
        .cast("long")
        .alias("dupes_revealed_by_norm"),
        (F.count(F.lit(1)) - F.count_distinct("norm_h"))
        .cast("long")
        .alias("removable_docs"),
    )
