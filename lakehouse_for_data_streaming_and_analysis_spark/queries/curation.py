"""Training-corpus pipeline operators beyond raw dedup/similarity:
PII scrubbing, deterministic train/val/test splitting, cross-split
leakage detection, benchmark-contamination n-gram overlap, stratified
sampling, composed quality gates, deterministic corpus shuffling, and
per-label embedding profiles.

These are the governance/curation half of a 100 TB training-data
pipeline (the discovery half — MinHash/SimHash/ANN — lives in
queries/datapipe.py). Every query is DuckDB-oracle-backed.

Portability rules shared with datapipe.py:
- the only hash is md5 (identical hex in both engines); bucket ids are
  the first 8 hex chars parsed as a BIGINT (`F.conv` ↔ `'0x'||…::BIGINT`),
- gate thresholds use integer cross-multiplication (`max_cnt*4 <= n_tok`
  instead of a float ratio compare) so no IEEE boundary can flip a row,
- float aggregates are ROUND()ed identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as textfns
from ..functions import vectors
from . import registry

QUERIES, ORACLES, q = registry.module()


def _pbucket(c: Column, mod: int) -> Column:
    """Portable md5-derived bucket in [0, mod): first 8 hex chars of
    md5 as a BIGINT. DuckDB twin: ('0x' || substr(md5(x),1,8))::BIGINT % mod."""
    return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % mod).cast(
        "long"
    )


def _pbucket_sql(expr: str, mod: int) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % {mod})"


_EMAIL_RE = r"[a-z0-9]+@[a-z0-9.]+\.com"
_NUM_RE = r"\b[0-9]{4,}\b"


@q(
    "pii_scrub_stats",
    f"""WITH aug AS (
         SELECT source,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                     || '.com ref ' || CAST(doc_id * 7919 AS VARCHAR) AS t
         FROM documents),
       scrub AS (
         SELECT source,
                length(t) AS raw_len,
                len(regexp_extract_all(t, '{_EMAIL_RE}')) AS email_hits,
                len(regexp_extract_all(t, '\\b[0-9]{{4,}}\\b')) AS num_hits,
                length(regexp_replace(
                  regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                  '\\b[0-9]{{4,}}\\b', '<NUM>', 'g')) AS scrubbed_len
         FROM aug)
       SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(email_hits) AS BIGINT) AS emails_scrubbed,
              CAST(SUM(num_hits) AS BIGINT) AS numbers_scrubbed,
              ROUND(AVG(raw_len - scrubbed_len), 4) AS avg_chars_removed
       FROM scrub GROUP BY 1""",
)
def pii_scrub_stats(spark, sf_dir):
    """PII redaction pass (emails + long digit runs → placeholder
    tokens) with per-source audit counts. The corpus is synthetic, so
    deterministic PII is injected per-doc before scrubbing — the
    operator under test is the scrub itself: two chained JVM
    regexp_replace calls, zero Python, fully codegen'd. At 100 TB this
    runs as a map-only stage; the audit agg ships 1 row per source.
    Parity: counts come from regexp_count on the *pre-scrub* text in
    both engines, so replacement order can't skew them."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com ref "),
        (F.col("doc_id") * 7919).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _NUM_RE, "<NUM>"
    )
    base = docs.select(
        "source",
        F.length(aug).alias("raw_len"),
        F.regexp_count(aug, F.lit(_EMAIL_RE)).alias("email_hits"),
        F.regexp_count(aug, F.lit(_NUM_RE)).alias("num_hits"),
        F.length(scrubbed).alias("scrubbed_len"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("email_hits").alias("emails_scrubbed"),
        F.sum("num_hits").alias("numbers_scrubbed"),
        F.round(F.avg(F.col("raw_len") - F.col("scrubbed_len")), 4).alias(
            "avg_chars_removed"
        ),
    )


@q(
    "train_val_test_split",
    f"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
              lang, COUNT(*) AS n_docs,
              ROUND(AVG(n_chars), 4) AS avg_chars
       FROM (SELECT lang, n_chars,
                    {_pbucket_sql("CAST(doc_id AS VARCHAR)", 100)} AS b
             FROM documents)
       GROUP BY 1, 2""",
)
def train_val_test_split(spark, sf_dir):
    """Deterministic 80/10/10 split by hashed id — the standard
    leakage-safe alternative to randomSplit (stable across reruns,
    cluster sizes, and partitionings; a doc's split never changes when
    data is added). Map-only bucket assignment; the verification agg
    shows the achieved proportions per language."""
    docs = load_table(spark, sf_dir, "documents")
    b = _pbucket(F.col("doc_id").cast("string"), 100)
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@q(
    "cross_split_leakage",
    f"""WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
       tagged AS (
         SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                CASE WHEN {_pbucket_sql("CAST(doc_id AS VARCHAR) || '|leak'", 100)} < 80
                     THEN 1 ELSE 0 END AS is_train
         FROM corpus),
       per_fp AS (
         SELECT fp, SUM(is_train) AS train_n,
                SUM(1 - is_train) AS eval_n
         FROM tagged GROUP BY 1)
       SELECT COUNT(CASE WHEN train_n > 0 AND eval_n > 0 THEN 1 END)
                AS leaked_fingerprints,
              CAST(SUM(CASE WHEN train_n > 0 AND eval_n > 0
                            THEN eval_n ELSE 0 END)
                   AS BIGINT) AS leaked_eval_docs,
              CAST(SUM(eval_n) AS BIGINT) AS total_eval_docs
       FROM per_fp""",
)
def cross_split_leakage(spark, sf_dir):
    """Train→eval contamination by exact content: hash-split a corpus
    with injected duplicates, fingerprint normalized text, and count
    fingerprints that appear on both sides. This is the check run
    before any benchmark number is trusted. One shuffle on the
    fingerprint (partial aggs map-side), then a single global row —
    the global agg sees one row per distinct fingerprint, not the
    corpus."""
    docs = load_table(spark, sf_dir, "documents", fanout=True).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    is_train = (
        _pbucket(F.concat(F.col("doc_id").cast("string"), F.lit("|leak")), 100) < 80
    ).cast("long")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    per_fp = (
        corpus.select(fp.alias("fp"), is_train.alias("is_train"))
        .groupBy("fp")
        .agg(
            F.sum("is_train").alias("train_n"),
            F.sum(F.lit(1) - F.col("is_train")).alias("eval_n"),
        )
    )
    leaked = (F.col("train_n") > 0) & (F.col("eval_n") > 0)
    return per_fp.agg(
        F.count(F.when(leaked, 1)).alias("leaked_fingerprints"),
        F.sum(F.when(leaked, F.col("eval_n")).otherwise(0)).alias("leaked_eval_docs"),
        F.sum("eval_n").alias("total_eval_docs"),
    )


_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLE5_SQL = (
    "list_transform(range(1, greatest(len(toks) - 4, 0) + 1), "
    "i -> array_to_string(toks[i:i+4], ' '))"
)


@q(
    "contamination_ngram_overlap",
    f"""WITH tagged AS (
         SELECT doc_id, source, text,
                {_pbucket_sql("CAST(doc_id AS VARCHAR) || '|bench'", 50)} AS b
         FROM documents),
       tok AS (SELECT doc_id, source, b, {_TOKS_SQL} AS toks FROM tagged),
       sh AS (SELECT DISTINCT doc_id, source, b,
                     unnest({_SHINGLE5_SQL}) AS sh
              FROM tok),
       bench AS (SELECT DISTINCT sh FROM sh WHERE b = 0),
       train AS (SELECT doc_id, source, s.sh,
                        CASE WHEN bench.sh IS NOT NULL THEN 1 ELSE 0 END AS hit
                 FROM sh s LEFT JOIN bench ON s.sh = bench.sh
                 WHERE s.b <> 0),
       per_doc AS (
         SELECT doc_id, source, COUNT(*) AS n_sh, SUM(hit) AS n_hit
         FROM train GROUP BY 1, 2)
       SELECT source, COUNT(*) AS n_train_docs,
              COUNT(CASE WHEN n_hit * 5 >= n_sh THEN 1 END) AS contaminated_docs,
              ROUND(AVG(CAST(n_hit AS DOUBLE) / n_sh), 4) AS avg_overlap_ratio
       FROM per_doc WHERE n_sh > 0 GROUP BY 1""",
)
def contamination_ngram_overlap(spark, sf_dir):
    """Benchmark-contamination scan: hold out a ~2% hash-designated
    benchmark slice, build its distinct 5-gram set, and measure every
    training doc's shingle overlap against it (flagged at ≥20%,
    integer cross-multiplied). The benchmark n-gram set is orders of
    magnitude smaller than the corpus, so the membership probe is a
    broadcast hash join at scale (or a bloom filter at 100 TB) — the
    big side never shuffles. The contaminated flag uses
    `n_hit * 5 >= n_sh` so no float compare can disagree."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    b = _pbucket(F.concat(F.col("doc_id").cast("string"), F.lit("|bench")), 50)
    toks = textfns.tokens("text")
    # per-doc shingle dedup is array_distinct — map-side, so the
    # exploded stream needs no distinct Exchange (the naive
    # explode→DISTINCT would shuffle every shingle of the corpus)
    tokd = docs.select("doc_id", "source", b.alias("b"), toks.alias("__toks"))
    sh = tokd.select(
        "doc_id",
        "source",
        "b",
        F.explode(
            F.array_distinct(textfns.shingles(F.col("__toks"), 5))
        ).alias("sh"),
    )
    bench = sh.filter(F.col("b") == 0).select("sh").distinct()
    train = (
        sh.filter(F.col("b") != 0)
        .join(F.broadcast(bench.withColumn("hit", F.lit(1))), "sh", "left")
        .select("doc_id", "source", F.coalesce("hit", F.lit(0)).alias("hit"))
    )
    per_doc = train.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_sh"), F.sum("hit").alias("n_hit")
    )
    return (
        per_doc.filter(F.col("n_sh") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count(F.when(F.col("n_hit") * 5 >= F.col("n_sh"), 1)).alias(
                "contaminated_docs"
            ),
            F.round(
                F.avg(F.col("n_hit").cast("double") / F.col("n_sh")), 4
            ).alias("avg_overlap_ratio"),
        )
    )


@q(
    "stratified_sample_rates",
    f"""WITH tagged AS (
         SELECT lang,
                CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 250
                          ELSE 500 END AS rate_pm,
                {_pbucket_sql("CAST(doc_id AS VARCHAR) || '|strat'", 1000)} AS b
         FROM documents)
       SELECT lang, MAX(rate_pm) / 1000.0 AS target_rate,
              COUNT(*) AS n_total,
              COUNT(CASE WHEN b < rate_pm THEN 1 END) AS n_sampled,
              ROUND(COUNT(CASE WHEN b < rate_pm THEN 1 END)
                    / CAST(COUNT(*) AS DOUBLE), 4) AS achieved_rate
       FROM tagged GROUP BY 1""",
)
def stratified_sample_rates(spark, sf_dir):
    """Per-stratum downsampling with language-dependent target rates
    (downweight the dominant language, keep the tail) via the same
    deterministic hash bucket — reproducible across runs, no RNG state,
    no extra pass to count strata first. Map-only; the audit agg
    verifies achieved ≈ target per stratum."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "de", 250)
        .otherwise(500)
    )
    b = _pbucket(F.concat(F.col("doc_id").cast("string"), F.lit("|strat")), 1000)
    tagged = docs.select("lang", rate.alias("rate_pm"), b.alias("b"))
    return tagged.groupBy("lang").agg(
        (F.max("rate_pm") / 1000.0).alias("target_rate"),
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("b") < F.col("rate_pm"), 1)).alias("n_sampled"),
        F.round(
            F.count(F.when(F.col("b") < F.col("rate_pm"), 1))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("achieved_rate"),
    )


_SW_SQL = "('the', 'a', 'and', 'of', 'to')"
_SW = ("the", "a", "and", "of", "to")


@q(
    "doc_quality_gates",
    f"""WITH tok AS (
         SELECT doc_id, lang, source, n_chars,
                unnest({_TOKS_SQL}) AS tok
         FROM documents),
       cnt AS (SELECT doc_id, lang, source, n_chars, tok, COUNT(*) AS c
               FROM tok GROUP BY 1, 2, 3, 4, 5),
       per_doc AS (
         SELECT doc_id, lang, source, n_chars,
                SUM(c) AS n_tok, MAX(c) AS max_cnt,
                SUM(CASE WHEN tok IN {_SW_SQL} THEN c ELSE 0 END) AS sw
         FROM cnt GROUP BY 1, 2, 3, 4),
       gated AS (
         SELECT lang, source,
                CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1 ELSE 0 END AS len_ok,
                CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END AS tok_ok,
                CASE WHEN max_cnt * 4 <= n_tok THEN 1 ELSE 0 END AS rep_ok,
                CASE WHEN sw * 2 <= n_tok THEN 1 ELSE 0 END AS sw_ok
         FROM per_doc)
       SELECT lang, source, COUNT(*) AS n_docs,
              CAST(SUM(len_ok * tok_ok * rep_ok * sw_ok) AS BIGINT) AS passed,
              CAST(SUM(1 - len_ok) AS BIGINT) AS fail_len,
              CAST(SUM(1 - tok_ok) AS BIGINT) AS fail_tok,
              CAST(SUM(1 - rep_ok) AS BIGINT) AS fail_rep,
              CAST(SUM(1 - sw_ok) AS BIGINT) AS fail_sw
       FROM gated GROUP BY 1, 2""",
)
def doc_quality_gates(spark, sf_dir):
    """Composed quality-gate filter — the C4/FineWeb-style keep/drop
    decision: length band, minimum token count, intra-doc repetition
    (max single-token share ≤ 25%), stopword share ≤ 50%. All gates
    integer cross-multiplied, so Spark and the oracle cannot disagree
    on a boundary doc. The per-doc stats are computed entirely
    map-side with array HOFs (sort the token array, fold a
    run-length state for the max token count) — the oracle's
    explode→groupBy formulation would shuffle every token of a
    100 TB corpus twice; this plan's only Exchange carries one row
    per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = textfns.tokens("text")
    sw_arr = F.array(*[F.lit(w) for w in _SW])
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["mx"], run).alias("mx")
        )

    max_cnt = F.aggregate(F.array_sort(toks), init, _step, lambda acc: acc["mx"])
    per_doc = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).alias("n_tok"),
        max_cnt.alias("max_cnt"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))).alias("sw"),
    )
    gated = per_doc.select(
        "lang",
        "source",
        F.col("n_chars").between(100, 10000).cast("long").alias("len_ok"),
        (F.col("n_tok") >= 20).cast("long").alias("tok_ok"),
        (F.col("max_cnt") * 4 <= F.col("n_tok")).cast("long").alias("rep_ok"),
        (F.col("sw") * 2 <= F.col("n_tok")).cast("long").alias("sw_ok"),
    )
    return gated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.col("len_ok") * F.col("tok_ok") * F.col("rep_ok") * F.col("sw_ok")
        ).alias("passed"),
        F.sum(1 - F.col("len_ok")).alias("fail_len"),
        F.sum(1 - F.col("tok_ok")).alias("fail_tok"),
        F.sum(1 - F.col("rep_ok")).alias("fail_rep"),
        F.sum(1 - F.col("sw_ok")).alias("fail_sw"),
    )


@q(
    "corpus_shuffle_shards",
    f"""SELECT doc_id, CAST(pos AS INTEGER) AS pos,
              CAST((pos - 1) % 8 AS INTEGER) AS shard
       FROM (SELECT doc_id,
                    ROW_NUMBER() OVER (
                      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|shuf'), doc_id)
                      AS pos
             FROM documents)
       WHERE pos <= 200""",
)
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic global training shuffle: order by a salted hash of
    the id, assign a contiguous position and round-robin shard. The
    oracle form uses a single global ROW_NUMBER (fine at test scale);
    the 100 TB path is `operators/windows.surrogate_keys_distributed`
    — per-partition counts + offset cumsum, i.e. a range-partitioned
    sort by the same hash with no single-reducer stage. Reproducible:
    same corpus + salt ⇒ identical batch order, unlike randomSplit."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|shuf")))
    # bounded-grain: deliberately global (reproducible shuffle order);
    # 100 TB path = surrogate_keys_distributed per the docstring above
    w = Window.orderBy(h, F.col("doc_id"))
    return (
        docs.select("doc_id", F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= 200)
        .select("doc_id", "pos", ((F.col("pos") - 1) % 8).alias("shard"))
    )


@q(
    "sequence_packing_map",
    f"""WITH t AS (
         SELECT doc_id, CAST(len({_TOKS_SQL}) AS INT) AS n_tok,
                md5(CAST(doc_id AS VARCHAR) || '|pack') AS h
         FROM documents),
       c AS (
         SELECT doc_id, n_tok,
                SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tok AS strt
         FROM t)
       SELECT doc_id, n_tok,
              CAST(strt // 4096 AS INT) AS shard,
              CAST(strt % 4096 AS INT) AS pos,
              (strt % 4096) + n_tok > 4096 AS straddles
       FROM c""",
)
def sequence_packing_map(spark, sf_dir):
    """Training-sequence packing map — the concat-and-chunk step that
    turns a curated corpus into fixed-budget (4096-token) training
    sequences: documents are laid out in a deterministic salted-hash
    shuffle order and the running token offset assigns each doc its
    shard, intra-shard position, and a straddles flag (doc crosses a
    chunk boundary — the span a trainer masks or splits). The oracle
    uses a single global running-sum window (fine at test scale); the
    100 TB path replaces it with per-partition token subtotals +
    offset cumsum over a range-partitioned sort on the same hash
    (operators/windows.surrogate_keys_distributed topology), which
    packs identically with no single-reducer stage."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|pack")))
    base = docs.select(
        "doc_id",
        F.size(textfns.tokens("text")).cast("int").alias("n_tok"),
        h.alias("h"),
    )
    # bounded-grain: global packing cumsum by design; 100 TB path =
    # per-shard packing after surrogate_keys_distributed sharding
    w = Window.orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    strt = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("strt")
    budget = F.lit(4096)
    return base.select("doc_id", "n_tok", strt).select(
        "doc_id",
        "n_tok",
        F.floor(F.col("strt") / budget).cast("int").alias("shard"),
        (F.col("strt") % budget).cast("int").alias("pos"),
        ((F.col("strt") % budget) + F.col("n_tok") > budget).alias("straddles"),
    )


@q(
    "label_centroid_profile",
    """WITH norms AS (
         SELECT label,
                sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         FROM embeddings),
       per_label AS (
         SELECT label, COUNT(*) AS n_vecs, ROUND(AVG(nrm), 4) AS avg_norm
         FROM norms GROUP BY 1),
       dims AS (
         SELECT label, generate_subscripts(embedding, 1) AS dim,
                CAST(unnest(embedding) AS DOUBLE) AS val
         FROM embeddings),
       cent AS (SELECT label, dim, AVG(val) AS m FROM dims GROUP BY 1, 2),
       cn AS (SELECT label, ROUND(sqrt(SUM(m * m)), 4) AS centroid_norm
              FROM cent GROUP BY 1)
       SELECT p.label, p.n_vecs, p.avg_norm, cn.centroid_norm
       FROM per_label p JOIN cn ON p.label = cn.label""",
)
def label_centroid_profile(spark, sf_dir):
    """Per-class embedding profile for training-set monitoring: vector
    count, mean L2 norm (JVM aggregate() fold, no explode), and the
    norm of the class centroid (posexplode → (label,dim) partial avg —
    the shuffle carries n_labels × n_dims rows, not the vectors).
    A centroid norm far below the mean norm flags an incoherent
    class; drift between snapshots flags distribution shift."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = vectors.as_double("embedding")
    norms = e.select("label", vectors.norm(emb).alias("nrm"))
    per_label = norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
    )
    dims = e.select(
        "label", F.posexplode(emb).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = dims.groupBy("label", "dim").agg(F.avg("val").alias("m"))
    cn = cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm")
    )
    return per_label.join(cn, "label").select(
        "label", "n_vecs", "avg_norm", "centroid_norm"
    )


@q(
    "corpus_curation_funnel",
    """WITH flagged AS (
         SELECT doc_id, text, lang, n_chars,
                lang = 'en' AS keep_lang,
                lang = 'en' AND n_chars BETWEEN 60 AND 500
                  AND length(string_split_regex(lower(trim(text)), '\\s+')) >= 10
                  AS keep_quality
         FROM documents),
       canon AS (
         SELECT *,
                keep_quality AND ROW_NUMBER() OVER (
                  PARTITION BY md5(text), keep_quality ORDER BY doc_id) = 1
                  AS keep_canonical
         FROM flagged)
       SELECT stage, n_docs FROM (
         SELECT 1 AS ord, 'raw' AS stage, COUNT(*) AS n_docs FROM canon
         UNION ALL
         SELECT 2, 'lang_en', CAST(SUM(CASE WHEN keep_lang THEN 1 ELSE 0 END) AS BIGINT) FROM canon
         UNION ALL
         SELECT 3, 'quality', CAST(SUM(CASE WHEN keep_quality THEN 1 ELSE 0 END) AS BIGINT) FROM canon
         UNION ALL
         SELECT 4, 'exact_canonical', CAST(SUM(CASE WHEN keep_canonical THEN 1 ELSE 0 END) AS BIGINT) FROM canon
         UNION ALL
         SELECT 5, 'train_split',
                CAST(SUM(CASE WHEN keep_canonical
                          AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 < 80
                     THEN 1 ELSE 0 END) AS BIGINT)
         FROM canon)
       ORDER BY ord""",
)
def corpus_curation_funnel(spark, sf_dir):
    """The whole curation pipeline as ONE funnel query: raw →
    language gate → quality gates (length band + token floor) →
    exact-dedup canonical pick (first doc_id per content hash) →
    deterministic 80% train split — with surviving-document counts at
    every stage. Each stage's predicate composes on the previous
    (monotone funnel). Plan: per-doc flags are map-side, the
    canonical pick is one content-hash window, and all five counts
    come from a single conditional aggregate — two exchanges total
    regardless of corpus size. This is the per-run observability
    report a 100 TB curation job emits to catch a gate suddenly
    dropping 90% of a source."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    keep_lang = F.col("lang") == "en"
    keep_quality = (
        keep_lang & F.col("n_chars").between(60, 500) & (F.size(toks) >= 10)
    )
    w = Window.partitionBy(F.md5("text"), "keep_quality").orderBy("doc_id")
    canon = docs.select(
        "doc_id",
        "text",
        keep_lang.alias("keep_lang"),
        keep_quality.alias("keep_quality"),
    ).withColumn(
        "keep_canonical",
        F.col("keep_quality") & (F.row_number().over(w) == 1),
    )
    in_train = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8),
        16,
        10,
    ).cast("bigint") % 100 < 80
    agg = canon.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(F.when(F.col("keep_lang"), 1).otherwise(0)).alias("lang_en"),
        F.sum(F.when(F.col("keep_quality"), 1).otherwise(0)).alias("quality"),
        F.sum(F.when(F.col("keep_canonical"), 1).otherwise(0)).alias(
            "exact_canonical"
        ),
        F.sum(
            F.when(F.col("keep_canonical") & in_train, 1).otherwise(0)
        ).alias("train_split"),
    )
    return agg.selectExpr(
        "stack(5, 'raw', raw, 'lang_en', lang_en, 'quality', quality, "
        "'exact_canonical', exact_canonical, 'train_split', train_split) "
        "AS (stage, n_docs)"
    )


_MIX_WEIGHTS = {"en": 100, "fr": 50, "es": 50, "de": 25, "zh": 10}
_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {w}" for lang, w in _MIX_WEIGHTS.items()
)


@q(
    "corpus_mixture_weights",
    f"""WITH weighted AS (
         SELECT lang, n_chars,
                CASE lang {_MIX_CASE} ELSE 0 END AS target_pct,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))
                     AS BIGINT) % 100 AS bucket
         FROM documents),
       kept AS (SELECT * FROM weighted WHERE bucket < target_pct)
       SELECT w.lang,
              MAX(w.target_pct) AS target_pct,
              COUNT(*) AS n_total,
              (SELECT COUNT(*) FROM kept k WHERE k.lang = w.lang) AS n_kept,
              ROUND(CAST((SELECT COUNT(*) FROM kept k WHERE k.lang = w.lang)
                         AS DOUBLE) / COUNT(*), 6) AS realized_rate,
              CAST((SELECT COALESCE(SUM(n_chars), 0) FROM kept k
                    WHERE k.lang = w.lang) AS BIGINT) AS kept_chars
       FROM weighted w GROUP BY w.lang""",
)
def corpus_mixture_weights(spark, sf_dir):
    """Mixture-weight downsampling — the corpus-mixing step of a
    training-data pipeline: each language keeps a target fraction
    (en 100%, fr/es 50%, de 25%, zh 10%) chosen by a deterministic
    content-independent hash bucket, so the mix is reproducible under
    re-runs and cluster resizing (no RNG, same property as
    train_val_test_split). The audit reports realized vs target rate
    and surviving character mass per language — what you check before
    committing a mixture change. One map-side bucket assignment + one
    language-grain aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    target = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(w))
            for lang, w in _MIX_WEIGHTS.items()
        ],
        F.lit(0),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint") % 100
    w = docs.select(
        "lang",
        "n_chars",
        target.alias("target_pct"),
        (bucket < target).alias("keep"),
    )
    return w.groupBy("lang").agg(
        F.max("target_pct").alias("target_pct"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("realized_rate"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_chars"))), F.lit(0)
        ).alias("kept_chars"),
    )


@q(
    "cross_source_duplicate_audit",
    """WITH fp AS (
         SELECT source,
                md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                  AS fingerprint
         FROM documents)
       SELECT fingerprint,
              COUNT(*) AS n_copies,
              COUNT(DISTINCT source) AS n_sources,
              string_agg(DISTINCT source, ',' ORDER BY source) AS sources
       FROM fp
       GROUP BY 1
       HAVING COUNT(DISTINCT source) > 1""",
)
def cross_source_duplicate_audit(spark, sf_dir):
    """Provenance-aware dedup audit: content (normalized-text hash)
    that appears under MORE THAN ONE source — the scrape-overlap /
    mirror-site signal that per-source dedup misses and that inflates
    a source's apparent contribution to the training mix. One
    fingerprint-grain aggregate; the sorted source list renders the
    overlap set deterministically."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    fp = docs.select(
        "source",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            ),
        )
        .filter(F.col("n_sources") > 1)
    )


@q(
    "weighted_sample_topk",
    """WITH u AS (
         SELECT doc_id, lang, n_chars,
                (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 1.0) / 4294967296.0 AS u
         FROM documents),
       keyed AS (
         SELECT doc_id, lang, n_chars,
                ROUND(ln(u) / n_chars, 10) AS es_key
         FROM u WHERE n_chars > 0)
       SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
              es_key, CAST(rn AS INT) AS rn
       FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC)
                       AS rn
             FROM keyed)
       WHERE rn <= 25""",
)
def weighted_sample_topk(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis, public): each doc draws u from a HASH of its
    id (reproducible across runs and cluster sizes — the property
    randomSplit lacks), and the top-k by ln(u)/weight IS a weighted
    sample without replacement (weight here: n_chars, standing in for
    a quality score — longer docs proportionally likelier). One scan +
    one top-k; at 100 TB this is how you draw a quality-weighted
    curation sample in a single pass with no RNG state. Keys rounded
    to 1e-10 with a doc_id tie-break so the rank order is
    hash-portable."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    keyed = docs.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.log(u) / F.col("n_chars"), 10).alias("es_key"),
    )
    # bounded-grain: global weighted top-k rank; 100 TB path = threshold
    # on es_key via approx quantile, then rank only the boundary slice
    w = Window.orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("doc_id", "lang", "n_chars", "es_key",
                F.col("rn").cast("int").alias("rn"))
    )


_DSIR_B = 64  # hashed-feature buckets


@q(
    "dsir_importance_weights",
    f"""WITH tok AS (SELECT doc_id, source,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
                FROM documents),
       bkt AS (SELECT doc_id, source,
                      {_pbucket_sql('t', _DSIR_B)} AS b
               FROM tok),
       counts AS (SELECT b,
                         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
                         SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
                  FROM bkt GROUP BY 1),
       tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
       ratios AS (SELECT b,
                         ln((ct + 1.0) / (nt + {_DSIR_B}.0))
                           - ln((cr + 1.0) / (nr + {_DSIR_B}.0)) AS lr
                  FROM counts CROSS JOIN tot),
       scored AS (SELECT doc_id, source, ROUND(SUM(lr), 4) AS w
                  FROM bkt JOIN ratios USING (b) GROUP BY 1, 2)
       SELECT source, COUNT(*) AS n_docs,
              ROUND(AVG(w), 4) AS avg_weight,
              COUNT(CASE WHEN w > 0 THEN 1 END) AS n_target_like
       FROM scored GROUP BY 1""",
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    document by its log importance weight under hashed-n-gram bag
    models of a TARGET domain vs the RAW pool — here target =
    source 'src0', features = unigram tokens hashed into 64 buckets
    (md5, portable), add-1 smoothing on both distributions. A doc's
    weight is the sum over its token stream of
    ln p_target(bucket) - ln p_raw(bucket); weight > 0 means the doc
    looks more target-like than pool-like and would survive the
    importance resample. Reported per source: doc count, mean weight,
    target-like count.

    Scale shape: one token explode feeds ONE 64-row bucket-count
    aggregate (map-side combined) and one per-doc sum; the 64-row
    log-ratio table broadcasts back into the stream, and the global
    totals it needs come from a window over those 64 rows — no
    corpus-sized side ever shuffles twice, no driver collect. The
    identical ln expression is written on both engines and the per-doc
    sum is rounded before any compare."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "doc_id", "source", F.explode(textfns.tokens("text")).alias("t")
    )
    bkt = tok.select(
        "doc_id", "source", _pbucket(F.col("t"), _DSIR_B).alias("b")
    )
    counts = bkt.groupBy("b").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0)).alias("cr"),
    )
    wall = Window.partitionBy()
    ratios = counts.select(
        "b",
        (
            F.log(
                (F.col("ct") + 1.0)
                / (F.sum("ct").over(wall) + float(_DSIR_B))
            )
            - F.log(
                (F.col("cr") + 1.0)
                / (F.sum("cr").over(wall) + float(_DSIR_B))
            )
        ).alias("lr"),
    )
    scored = (
        bkt.join(F.broadcast(ratios), "b")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum("lr"), 4).alias("w"))
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("w"), 4).alias("avg_weight"),
        F.count(F.when(F.col("w") > 0, 1)).alias("n_target_like"),
    )


@q(
    "temperature_mixture_weights",
    """WITH per_lang AS (SELECT lang, COUNT(*) AS n_docs FROM documents
                    GROUP BY 1),
       tot AS (SELECT SUM(n_docs) AS n_total,
                      SUM(pow(CAST(n_docs AS DOUBLE), 0.3)) AS z
               FROM per_lang)
       SELECT lang, n_docs,
              ROUND(CAST(n_docs AS DOUBLE) / n_total, 6) AS natural_share,
              ROUND(pow(CAST(n_docs AS DOUBLE), 0.3) / z, 6) AS temp_share,
              ROUND((pow(CAST(n_docs AS DOUBLE), 0.3) / z)
                    / (CAST(n_docs AS DOUBLE) / n_total), 4) AS sampling_factor
       FROM per_lang CROSS JOIN tot""",
)
def temperature_mixture_weights(spark, sf_dir, alpha: float = 0.3):
    """Temperature-scaled corpus mixing (the exponentiated-share
    formula of mBERT / XLM-R / mT5 multilingual sampling, public):
    instead of fixed per-language targets
    (corpus_mixture_weights), sampling probabilities come from the
    corpus itself — p_s = n_s^alpha / sum_t n_t^alpha with
    alpha = 0.3, which up-samples low-resource languages and
    down-samples the head. Reported per language: natural share,
    temperature share, and the resulting sampling factor
    (p_s / q_s — how many effective epochs of that language the mix
    implies). One language-grain aggregate; the totals the shares
    need come from a window over the language-cardinality frame, so
    nothing corpus-sized is read twice."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    n_total = F.sum("n_docs").over(wall).cast("double")
    powed = F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    z = F.sum(powed).over(wall)
    q_nat = F.col("n_docs").cast("double") / n_total
    p_temp = powed / z
    return per_lang.select(
        "lang",
        "n_docs",
        F.round(q_nat, 6).alias("natural_share"),
        F.round(p_temp, 6).alias("temp_share"),
        F.round(p_temp / q_nat, 4).alias("sampling_factor"),
    )


@q(
    "embedding_centroid_separation",
    """WITH dims AS (
         SELECT label, generate_subscripts(embedding, 1) AS dim,
                CAST(unnest(embedding) AS DOUBLE) AS val
         FROM embeddings),
       cent AS (SELECT label, dim, AVG(val) AS m FROM dims GROUP BY 1, 2),
       nv AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1),
       gcent AS (SELECT dim, AVG(val) AS g FROM dims GROUP BY 1),
       dg AS (SELECT c.label,
                     ROUND(sqrt(SUM((c.m - gcent.g) * (c.m - gcent.g))), 6)
                       AS dist_to_global
              FROM cent c JOIN gcent ON c.dim = gcent.dim GROUP BY c.label),
       pair AS (SELECT a.label AS la, b.label AS lb,
                       sqrt(SUM((a.m - b.m) * (a.m - b.m))) AS d
                FROM cent a JOIN cent b
                  ON a.dim = b.dim AND a.label <> b.label
                GROUP BY 1, 2),
       near AS (SELECT la AS label, lb AS nearest_label,
                       ROUND(d, 6) AS nearest_dist,
                       ROW_NUMBER() OVER (PARTITION BY la
                                          ORDER BY d, lb) AS rn
                FROM pair)
       SELECT nv.label, CAST(nv.n_vecs AS BIGINT) AS n_vecs,
              dg.dist_to_global, near.nearest_label, near.nearest_dist
       FROM nv JOIN dg ON nv.label = dg.label
       JOIN near ON nv.label = near.label AND near.rn = 1""",
)
def embedding_centroid_separation(spark, sf_dir):
    """Class-separability audit over the embedding table: each
    label's centroid distance to the GLOBAL centroid (is the class
    off-center at all?) and to its NEAREST other-class centroid (the
    confusion risk) — the cheap geometric screen run before trusting
    labels for classifier training or SemDeDup-style pruning.

    Everything reduces through (label, dim) partial means: the
    centroid table is labels x dims rows, the pairwise distance
    matrix labels^2 x dims — kilobytes at any corpus scale, after a
    single posexplode + map-side-combined average over the vectors.
    min_by picks the nearest neighbor with a (distance, label)
    struct so ties break identically on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = vectors.as_double("embedding")
    dims = e.select("label", F.posexplode(emb).alias("dim", "val"))
    cent = dims.groupBy("label", "dim").agg(F.avg("val").alias("m"))
    nv = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    glob = dims.groupBy("dim").agg(F.avg("val").alias("g"))
    dg = (
        cent.join(F.broadcast(glob), "dim")
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("m") - F.col("g")) * (F.col("m") - F.col("g"))
                    )
                ),
                6,
            ).alias("dist_to_global")
        )
    )
    a = cent.select(F.col("label").alias("la"), "dim", F.col("m").alias("ma"))
    b = cent.select(F.col("label").alias("lb"), "dim", F.col("m").alias("mb"))
    pair = (
        a.join(b, "dim")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            ).alias("d")
        )
    )
    near = pair.groupBy(F.col("la").alias("label")).agg(
        F.min_by("lb", F.struct("d", "lb")).alias("nearest_label"),
        F.round(F.min("d"), 6).alias("nearest_dist"),
    )
    return (
        nv.join(dg, "label")
        .join(near, "label")
        .select(
            "label", "n_vecs", "dist_to_global", "nearest_label", "nearest_dist"
        )
    )
