"""Learned components of the training-data pipeline: tokenizer
vocabulary induction (BPE) and a distilled quality classifier.

Both are inherently iterative (merge rounds / gradient steps), so they
are driver rows-only checks (``__spark_entry__.ROWS_ONLY``); their
numerics are pinned exactly (BPE — integer counts) or at 1e-6
(logistic regression vs a dense numpy replay) in ``tests/test_bpe.py``
and ``tests/test_classifier.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analytics import classifier
from ..catalog import load_table, partitions_for
from ..functions import text as textfns
from ..operators import bpe
from . import registry

QUERIES, ORACLES, q = registry.module()


_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


# oracle=lambda: the fixture-bound oracle is defined further down
@q("bpe_vocab_merges", oracle=lambda: _bpe_merges_oracle())
def bpe_vocab_merges(spark, sf_dir, n_merges: int = 24):
    """Learn the first ``n_merges`` BPE merges over the documents
    corpus (see operators/bpe.py for the scale topology: one
    corpus-sized shuffle to build the word-frequency table, then
    vocab-sized rounds). Output is the learned merge table — the
    tokenizer artifact itself. Integer counts + total tie-break make
    the sequence exactly reproducible; pinned byte-for-byte against a
    pure-Python reference in tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    words = bpe.word_symbol_table(docs, textfns.tokens("text"))
    merges, _ = bpe.learn_merges(words, n_merges)
    return spark.createDataFrame(merges, schema=_MERGE_SCHEMA).orderBy("rank")


# Feature + label expressions shared by the query and its test replay.
def classifier_features(docs: DataFrame) -> DataFrame:
    toks = textfns.tokens("text")
    sw_arr = F.array(*[F.lit(w) for w in textfns.STOPWORDS["en"]])
    n_tok = F.size(toks)
    per_doc = docs.select(
        "doc_id",
        "n_chars",
        n_tok.alias("n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))).alias(
            "sw"
        ),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("tok_chars"),
    )
    return per_doc.select(
        "doc_id",
        F.log1p("n_chars").alias("x_len"),
        (F.col("sw") / F.col("n_tok")).alias("x_sw_ratio"),
        (F.col("n_distinct") / F.col("n_tok")).alias("x_distinct_ratio"),
        (F.col("tok_chars") / F.col("n_tok")).alias("x_mean_tok_len"),
        # Label: the curation gate's keep/drop decision (length band +
        # token floor + stopword share), the heuristic this classifier
        # distills into a smooth score.
        (
            F.col("n_chars").between(100, 10000)
            & (F.col("n_tok") >= 20)
            & (F.col("sw") * 2 <= F.col("n_tok"))
        )
        .cast("double")
        .alias("label"),
    )


XCOLS = ["x_len", "x_sw_ratio", "x_distinct_ratio", "x_mean_tok_len"]


@q("quality_classifier_scores", oracle=lambda: _classifier_oracle())
def quality_classifier_scores(spark, sf_dir, iters: int = 10):
    """Distill the rule-based quality gate into a learned linear
    scorer: label docs with the heuristic gate, train L2-regularized
    logistic regression by Newton/IRLS (one scan + one 1-row
    aggregate per iteration — analytics/classifier.py), then score
    every document JVM-side. Returns per-doc label, smooth score, and
    the hard prediction at 0.5."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # checkpoint BEFORE standardize: the token-array folds are the
    # expensive pass, and standardize's stats aggregate would
    # otherwise recompute them (measured 3.2s -> 0.9s at sf0.1)
    # r11 OPT (guide §2.2 fewer-larger partitions): the checkpointed
    # WORKING SET is 6 narrow doubles per doc (~48 B/row) — tiny next
    # to the token-fold pass that builds it — yet the 11 downstream
    # 1-row aggregate jobs (stats + 10 IRLS iterations) each scheduled
    # 32 tasks over it. Squeeze the checkpoint to a size-derived
    # width (rows*48 B / 64 MB, floor 1, cap 2x cores — same clamp as
    # the graph iteratives): at bench SFs that is ONE partition, so
    # every iteration job is 2 tasks instead of 33 (measured ~6.5 ->
    # ~3.0 s at sf0.1); a 100 TB corpus (~1e9+ docs) derives a
    # cluster-width layout. The feature pass itself keeps the full
    # fanout — the repartition sits above it. IRLS per-partition sum
    # order changes (float low bits, ~1e-15 relative on theta); the
    # emitted scores are ROUND(_, 4) and re-verified vs the oracle at
    # three SFs, and tests/test_classifier.py pins the trajectory vs
    # the dense replay at 1e-6.
    raw = (
        classifier_features(docs)
        .repartition(partitions_for(spark, sf_dir, "documents", 48, 1))
        .localCheckpoint(eager=True)
    )
    feats = classifier.standardize(raw, XCOLS)
    model = classifier.logreg_fit(feats, XCOLS, "label", iters=iters)
    score = classifier.logreg_score(feats, model, XCOLS)
    return feats.select(
        "doc_id",
        F.col("label").cast("int").alias("label"),
        F.round(score, 4).alias("score"),
        (score >= 0.5).cast("int").alias("predicted"),
    )


@q("bpe_tokenize_docs", oracle=lambda: _bpe_tokenize_oracle())
def bpe_tokenize_docs(spark, sf_dir, n_merges: int = 24):
    """The APPLY side of the tokenizer — the operation that actually
    runs at 100 TB (training the vocab is offline; segmenting the
    corpus is the scale job): learn the merge table, then segment
    every document by broadcasting the word -> symbol-count vocabulary
    against the exploded token stream (segmentation is per-word, so
    the corpus-sized side never shuffles — one broadcast hash join +
    one doc-grain aggregate). Returns per-doc word and subword counts;
    per-doc parity with the sequential Python reference pinned in
    tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = textfns.tokens("text")
    words = bpe.word_symbol_table(docs, toks)
    _, final = bpe.learn_merges(words, n_merges)
    vocab = final.select("word", F.size("syms").alias("n_sub"))
    stream = (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .where(F.length("word") > 0)
    )
    return (
        stream.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
        )
    )


def _classifier_oracle() -> str | None:
    """DuckDB oracle for the distilled quality classifier. SQL cannot
    run the 10 Newton iterations, so the MODEL (4 weights + bias) and
    the standardization stats are fit here at oracle-build time by the
    pure-numpy IRLS replay (analytics/classifier.numpy_replay — the
    same arithmetic the distributed trajectory is pinned against at
    1e-6 in tests/test_classifier.py) over features recomputed
    independently from the fixture parquet, and embedded as repr
    literals. The SQL then re-derives every document's features,
    z-scores, sigmoid score, and prediction from scratch — so the
    hash match certifies the whole Spark feature + scoring pipeline,
    with the fit itself cross-validated by an independent
    implementation. Spark-side-vs-replay beta agreement is ~1e-10
    (aggregation-order noise), 5 orders below the ROUND(score, 4)
    grid. Returns None when the fixture is absent (rows-only
    fallback)."""
    import math
    import os
    import re

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["text", "n_chars"])
    texts = tbl.column("text").to_pylist()
    n_chars = tbl.column("n_chars").to_pylist()
    sw = set(textfns.STOPWORDS["en"])
    feats, labels = [], []
    for txt, nc in zip(texts, n_chars):
        toks = re.split(r"\s+", (txt or "").lower().strip())
        n_tok = len(toks)
        n_sw = sum(1 for t in toks if t in sw)
        feats.append(
            [
                math.log1p(nc),
                n_sw / n_tok,
                len(set(toks)) / n_tok,
                sum(len(t) for t in toks) / n_tok,
            ]
        )
        labels.append(
            1.0
            if (100 <= nc <= 10000 and n_tok >= 20 and 2 * n_sw <= n_tok)
            else 0.0
        )
    X = np.asarray(feats)
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd[sd == 0.0] = 1.0
    model = classifier.numpy_replay((X - mu) / sd, labels, iters=10)
    w = model["weights"]
    sw_sql = "[" + ", ".join(f"'{t}'" for t in textfns.STOPWORDS["en"]) + "]"
    z = [
        f"((x{i + 1} - {mu[i]!r}) / {sd[i]!r})"
        for i in range(4)
    ]
    margin = f"{model['bias']!r}"
    for i in range(4):
        margin = f"{margin} + {w[i]!r} * {z[i]}"
    return f"""WITH tok AS (
         SELECT doc_id, n_chars,
                string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents),
       f AS (
         SELECT doc_id,
                ln(1 + n_chars) AS x1,
                CAST(len(list_filter(toks,
                       t -> list_contains({sw_sql}, t))) AS DOUBLE)
                    / len(toks) AS x2,
                CAST(len(list_distinct(toks)) AS DOUBLE)
                    / len(toks) AS x3,
                CAST(list_sum(list_transform(toks, t -> length(t)))
                     AS DOUBLE) / len(toks) AS x4,
                CASE WHEN n_chars BETWEEN 100 AND 10000
                          AND len(toks) >= 20
                          AND 2 * len(list_filter(toks,
                                t -> list_contains({sw_sql}, t)))
                              <= len(toks)
                     THEN 1 ELSE 0 END AS label
         FROM tok),
       s AS (SELECT doc_id, label, {margin} AS m FROM f)
       SELECT doc_id,
              CAST(label AS INT) AS label,
              ROUND(1.0 / (1.0 + exp(-m)), 4) AS score,
              CAST(CASE WHEN 1.0 / (1.0 + exp(-m)) >= 0.5
                        THEN 1 ELSE 0 END AS INT) AS predicted
       FROM s"""


def _sequential_bpe(word_counts, n_merges: int):
    """Independent sequential BPE (the Sennrich et al. 2016 greedy
    loop, same (count desc, pair asc) tie-break as the Spark
    operator), tracking per-word symbol sequences so the tokenize
    oracle can embed the word -> subword-count vocabulary. A third
    implementation besides operators/bpe.py (distributed) and
    tests/test_bpe.py (test reference) — kept separate from both on
    purpose: the oracle literals must not share code with the path
    they certify."""
    words = {w: [*w, bpe.EOW] for w in word_counts}
    merges = []
    for rank in range(n_merges):
        pairs: dict = {}
        for w, syms in words.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, left + right, cnt))
        for w, syms in words.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            words[w] = out
    return merges, {w: len(syms) for w, syms in words.items()}


def _fixture_word_counts(n_merges: int = 24):
    import os
    import re

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    counts: dict = {}
    for txt in pq.read_table(path, columns=["text"]).column("text").to_pylist():
        for w in re.split(r"\s+", (txt or "").lower().strip()):
            if w:
                counts[w] = counts.get(w, 0) + 1
    return _sequential_bpe(counts, n_merges)


def _bpe_merges_oracle() -> str | None:
    """Literal-table oracle for the learned merge sequence: the 24
    (rank, pair, count) rows come from the independent sequential
    reference over the same fixture (like the deflate / IRLS literal
    oracles, recomputed per oracle_sql() call for the sim sf dir)."""
    res = _fixture_word_counts()
    if res is None:
        return None
    merges, _ = res
    rows = ",\n              ".join(
        f"({r}, '{a}', '{b}', '{m}', {c})" for r, a, b, m, c in merges
    )
    return f"""SELECT CAST(rank AS INT) AS rank,
              lft AS "left", rgt AS "right", merged,
              CAST(pair_count AS BIGINT) AS pair_count
       FROM (VALUES {rows})
            AS t(rank, lft, rgt, merged, pair_count)"""


def _bpe_tokenize_oracle() -> str | None:
    """Oracle for the corpus-segmentation pass: the word ->
    subword-count vocabulary (the tokenizer artifact) is embedded as
    literals from the independent sequential reference; the per-doc
    rollup — explode, join, aggregate — is re-derived in SQL, so the
    hash match certifies the broadcast-segmentation topology end to
    end."""
    res = _fixture_word_counts()
    if res is None:
        return None
    _, n_sub = res
    rows = ", ".join(f"('{w}', {n})" for w, n in sorted(n_sub.items()))
    return f"""WITH v AS (SELECT * FROM (VALUES {rows}) AS t(word, n_sub)),
       tok AS (
         SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         FROM documents),
       s AS (SELECT doc_id, word FROM tok WHERE length(word) > 0)
       SELECT doc_id,
              COUNT(*) AS n_words,
              CAST(SUM(n_sub) AS BIGINT) AS n_subwords
       FROM s JOIN v USING (word) GROUP BY 1"""


# ------------------------------------------- round-8 training plumbing


@q(
    "hashing_collision_sweep",
    """WITH toks AS (
         SELECT DISTINCT unnest(string_split_regex(lower(trim(text)),
                                '\\s+')) AS tok
         FROM documents),
       clean AS (SELECT tok FROM toks WHERE tok <> ''),
       widths AS (SELECT unnest([256, 1024, 4096]) AS w),
       bucketed AS (
         SELECT w.w,
                ('0x' || substr(md5(c.tok), 1, 8))::BIGINT % w.w AS b
         FROM clean c CROSS JOIN widths w),
       occ AS (SELECT w, b, COUNT(*) AS load FROM bucketed GROUP BY 1, 2),
       vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM clean)
       SELECT occ.w AS width,
              v.n_tokens,
              CAST(COUNT(*) AS BIGINT) AS buckets_occupied,
              ROUND(1.0 - COUNT(*) / CAST(v.n_tokens AS DOUBLE), 4)
                AS collision_rate,
              CAST(MAX(load) AS BIGINT) AS max_bucket_load,
              ROUND(AVG(load), 4) AS mean_bucket_load
       FROM occ CROSS JOIN vocab v GROUP BY 1, 2""",
)
def hashing_collision_sweep(spark, sf_dir):
    """Feature-hashing width sweep: for 256/1024/4096-bucket hashed
    bag-of-words spaces, the DISTINCT-token collision rate
    (1 − occupied/vocab), the worst bucket load, and the mean load —
    the table that prices hashed_bow_vectorize's width choice (too
    narrow silently merges features; the sweep shows exactly how
    much). One distinct-token pass crossed with a 3-row width grid;
    loads are exact integers from the same md5 bucket function as
    the production vectorizer."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = (
        docs.select(F.explode(textfns.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    widths = spark.createDataFrame([(256,), (1024,), (4096,)], "w int")
    bucketed = toks.crossJoin(F.broadcast(widths)).select(
        "w",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % F.col("w")
        ).alias("b"),
    )
    occ = bucketed.groupBy("w", "b").agg(F.count(F.lit(1)).alias("load"))
    vocab = toks.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return (
        occ.crossJoin(F.broadcast(vocab))
        .groupBy(F.col("w").alias("width"), "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("buckets_occupied"),
            F.round(
                1.0
                - F.count(F.lit(1)) / F.col("n_tokens").cast("double"),
                4,
            ).alias("collision_rate"),
            F.max("load").cast("long").alias("max_bucket_load"),
            F.round(F.avg("load"), 4).alias("mean_bucket_load"),
        )
    )


@q(
    "class_balance_weights",
    """WITH cls AS (
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
         FROM documents GROUP BY 1),
       tot AS (SELECT SUM(n) AS total, CAST(COUNT(*) AS INT) AS k
               FROM cls)
       SELECT c.lang, c.n,
              ROUND(CAST(t.total AS DOUBLE) / (t.k * c.n), 4)
                AS inv_freq_weight,
              ROUND((1 - POW(0.999, c.n))
                    / (1 - 0.999), 4) AS effective_n_beta999,
              ROUND(CAST(c.n AS DOUBLE) / t.total, 4) AS share
       FROM cls c CROSS JOIN tot t""",
)
def class_balance_weights(spark, sf_dir):
    """Class-imbalance reweighting table for the language label:
    inverse-frequency weights N/(k·n_c) (the loss-reweighting
    default) and the effective-number-of-samples correction
    (1−β^n)/(1−β) at β=0.999 (Cui et al.'s class-balanced loss —
    down-weights the diminishing returns of very frequent classes).
    One tiny aggregate + a 1-row broadcast; the weights feed a
    training-mix sampler the same way temperature_mixture_weights
    feeds source mixing."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    cls = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cls.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).cast("int").alias("k")
    )
    return cls.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.round(
            F.col("total").cast("double") / (F.col("k") * F.col("n")), 4
        ).alias("inv_freq_weight"),
        F.round(
            (1 - F.pow(F.lit(0.999), F.col("n"))) / (1 - 0.999), 4
        ).alias("effective_n_beta999"),
        F.round(F.col("n").cast("double") / F.col("total"), 4).alias(
            "share"
        ),
    )


@q(
    "stratified_kfold_assignment_audit",
    """WITH folded AS (
         SELECT lang,
                ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)),
                                1, 6))::BIGINT % 5 AS fold
         FROM documents),
       cell AS (
         SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n
         FROM folded GROUP BY 1, 2),
       per_lang AS (
         SELECT lang, SUM(n) AS n_lang,
                MAX(n) AS max_fold, MIN(n) AS min_fold
         FROM cell GROUP BY 1)
       SELECT lang,
              CAST(n_lang AS BIGINT) AS n_docs,
              CAST(max_fold AS BIGINT) AS largest_fold,
              CAST(min_fold AS BIGINT) AS smallest_fold,
              ROUND(CAST(max_fold - min_fold AS DOUBLE)
                    / (CAST(n_lang AS DOUBLE) / 5), 4) AS imbalance_ratio
       FROM per_lang""",
)
def stratified_kfold_assignment_audit(spark, sf_dir):
    """Deterministic 5-fold assignment audit: folds come from a
    salted md5 of the doc id (reproducible on any engine, any run —
    no RNG, no shuffle-order dependence), and the audit reports the
    per-language fold balance (largest/smallest fold and the
    imbalance ratio against the ideal n/5). This is the split
    machinery train_val_test_split uses, generalized to k folds with
    the stratification BALANCE measured instead of assumed — at
    100 TB the same hash assigns folds with zero coordination."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    folded = docs.select(
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("fold"),
    )
    cell = folded.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cell.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.max("n").cast("long").alias("largest_fold"),
        F.min("n").cast("long").alias("smallest_fold"),
        F.round(
            (F.max("n") - F.min("n")).cast("double")
            / (F.sum("n").cast("double") / 5),
            4,
        ).alias("imbalance_ratio"),
    )
