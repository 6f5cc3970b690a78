"""LLM-training-data pipeline queries (build plan M7): dedup,
similarity search, text analysis — each oracle-checked against DuckDB.

Everything here is hash-portable by construction: md5 (identical hex
in both engines) is the only hash, divisions go through explicit
double casts, thresholds compare exactly-rational values, and ranks
order on pre-rounded scores. See operators/dedup.py for the
xxhash64 production variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as textfns
from ..operators import dedup, similarity
from . import registry

QUERIES, ORACLES, q = registry.module()


_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLES_SQL = (
    "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' '))"
)

# near-dup test corpus: src0 docs plus an 80%-prefix copy of every 5th
# doc under a shifted id — real near-duplicates with Jaccard ~0.8
_NEARDUP_CORPUS_SQL = f"""
       base AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
       docs AS (
         SELECT doc_id, text FROM base
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id,
                array_to_string(toks[1:greatest(CAST(floor(len(toks) * 0.8) AS INT), 1)], ' ') AS text
         FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM base)
         WHERE doc_id % 5 = 0)
"""


def _neardup_corpus(docs: DataFrame) -> DataFrame:
    base = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    toks = textfns.tokens("text")
    trunc = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(F.floor(F.size(toks) * 0.8).cast("int"), F.lit(1)),
            ),
            " ",
        ).alias("text"),
    )
    return base.unionByName(trunc)


# ---------------------------------------------------------------- dedup

@q(
    "exact_dedup_groups",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)
       SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
              MIN(doc_id) AS keep_id,
              COUNT(*) AS n_copies
       FROM corpus GROUP BY 1""",
)
def exact_dedup_groups(spark, sf_dir):
    """Exact dedup via normalized-text hash groupBy. Input corpus has
    injected duplicates (every 7th doc re-appended under a new id) so
    the operator provably collapses them."""
    docs = load_table(spark, sf_dir, "documents", fanout=True).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.exact_dedup(docs.unionByName(dups), "doc_id", "text")


_MINHASH_K = 16


@q(
    "minhash_lsh_neardup",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM tok),
       shf AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
               FROM sh WHERE sh <> ''),
       seeds AS (SELECT unnest(range(0, {_MINHASH_K})) AS seed),
       sigs AS (SELECT doc_id, seed,
                       MIN(((62675 * (seed + 1) + 1) * h + (12345 + 7919 * seed))
                           % {dedup.MINHASH_PRIME}) AS mh
                FROM shf, seeds GROUP BY 1, 2),
       bands AS (SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                        string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS band_key
                 FROM sigs GROUP BY 1, 2),
       cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id),
       est AS (SELECT c.doc_a, c.doc_b,
                      ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                            / {_MINHASH_K}.0, 4) AS est_jaccard
               FROM cands c
               JOIN sigs sa ON sa.doc_id = c.doc_a
               JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
               GROUP BY 1, 2)
       SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.25""",
)
def minhash_lsh_neardup(spark, sf_dir):
    """MinHash(16) + LSH(8 bands x 2 rows) near-dup candidates with
    signature-estimated Jaccard. Full pipeline: shingle -> minhash ->
    band bucket equi-join -> estimate. No O(n^2) stage. Runs over the
    injected-near-dup corpus so recall is actually exercised."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3)
    bands = dedup.lsh_band_keys(sigs, "doc_id", rows_per_band=2)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id")
    est = dedup.estimate_pair_jaccard(pairs, sigs, "doc_id", k=_MINHASH_K)
    return est.filter(F.col("est_jaccard") >= 0.25)


@q(
    "simhash_hamming_pairs",
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE source = 'src1'),
       tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
               FROM docs),
       pos AS (SELECT doc_id, tok, unnest(range(1, 17)) AS j FROM tok),
       contrib AS (SELECT doc_id, j,
                          CASE WHEN instr('0123456789abcdef', substr(md5(tok), j, 1)) - 1 >= 8
                               THEN 1 ELSE -1 END AS s
                   FROM pos),
       bits AS (SELECT doc_id, j, CASE WHEN SUM(s) > 0 THEN 1 ELSE 0 END AS bit
                FROM contrib GROUP BY 1, 2),
       sims AS (SELECT doc_id, CAST(SUM(bit * (1 << (j - 1))) AS BIGINT) AS simhash
                FROM bits GROUP BY 1)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
)
def simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup pairs at hamming distance <= 3 (16-bit portable
    sketch; production = same structure over xxhash64/64-bit)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True).filter(F.col("source") == "src1")
    sims = dedup.simhash16(docs, "doc_id", "text")
    out = dedup.simhash_pairs(sims, "doc_id", max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


@q(
    "ngram_jaccard_pairs",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM tok),
       sh AS (SELECT * FROM sh0 WHERE sh <> ''),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                 FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
       FROM inter
       JOIN sizes na ON na.doc_id = doc_a
       JOIN sizes nb ON nb.doc_id = doc_b
       WHERE ROUND(n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 4) >= 0.2""",
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard via shingle inverted-index join (the
    verifier for MinHash candidates), over the injected-near-dup corpus."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)


# ---------------------------------------------------------------- similarity search

# list_inner_product, NOT an element explode: the exploded form hash-
# joins on the 64-value subscript key, so every probe row matches the
# whole corpus slice for that subscript before the residual filter —
# quadratic in DuckDB at sf1 (VERDICT r9 ask #4's root cause). The
# 64-term dot products round at 6dp either way; values are unchanged.
_ANN_DOTS_SQL = """
       vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings),
       qvecs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qemb
                 FROM embeddings WHERE vec_id < 3),
       scored AS (SELECT q.qid, v.vec_id,
                         ROUND(list_inner_product(v.emb, q.qemb)
                               / (sqrt(list_inner_product(v.emb, v.emb))
                                  * sqrt(list_inner_product(q.qemb, q.qemb))),
                               6) AS cosine
                  FROM vecs v CROSS JOIN qvecs q)
"""


@q(
    "ann_brute_force_topk",
    f"""WITH {_ANN_DOTS_SQL.lstrip()}
       SELECT qid, vec_id, cosine, CAST(rn AS INT) AS rn FROM (
         SELECT qid, vec_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
         FROM scored)
       WHERE rn <= 5""",
)
def ann_brute_force_topk(spark, sf_dir):
    """Exact cosine top-5 for 3 query vectors against the corpus —
    the ANN correctness baseline (rank on pre-rounded score)."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select("qid", "vec_id", "cosine", F.col("rn").cast("int").alias("rn"))


@q(
    "embedding_neardup_pairs",
    """WITH pe AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
       grid AS (
         SELECT t.t, p.p FROM (SELECT UNNEST([0, 1, 2, 3]) AS t) t
         CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS p) p),
       elems AS (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM pe),
       proj AS (
         SELECT e.vec_id, g.t, g.p,
                SUM(CAST(e.v AS DOUBLE)
                    * (CAST('0x' || substr(md5(g.t || '|' || g.p || '|'
                                              || CAST(e.i - 1 AS VARCHAR)), 1, 6)
                            AS BIGINT) / 8388608.0 - 1.0)) AS s
         FROM elems e CROSS JOIN grid g GROUP BY 1, 2, 3),
       buckets AS (
         SELECT vec_id, t,
                SUM(CASE WHEN s > 0 THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END)
                  AS bucket
         FROM proj GROUP BY 1, 2),
       cands AS (
         SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       dots AS (SELECT c.id_a, c.id_b,
                       SUM(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS dot,
                       SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE)) AS na,
                       SUM(CAST(y.v AS DOUBLE) * CAST(y.v AS DOUBLE)) AS nb
                FROM cands c
                JOIN elems x ON x.vec_id = c.id_a
                JOIN elems y ON y.vec_id = c.id_b AND y.i = x.i
                GROUP BY 1, 2)
       SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
       FROM dots
       WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.35""",
)
def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs above 0.35 — the SCALE
    path: banded-LSH candidate generation (4 tables × 4 hyperplanes,
    one (table, bucket) self-equi-join, linear shuffle) verified with
    exact cosine, instead of the all-pairs O(n²) join r01 shipped.
    The md5-derived hyperplanes are bit-reproducible in DuckDB, so the
    candidate set — and therefore the output — is deterministic
    cross-engine. Recall vs the exact all-pairs yardstick
    (similarity.cosine_pairs) is pinned in tests/test_scale.py; pairs
    near the 0.35 threshold can be missed by construction (that is the
    LSH trade), high-cosine true near-dups are caught by any table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return similarity.lsh_cosine_pairs(
        emb, threshold=0.35, n_planes=4, n_tables=4, dim=64
    )


# ---------------------------------------------------------------- text analysis

@q(
    "text_quality_scores",
    f"""SELECT doc_id,
              CAST(len(toks) AS INT) AS n_tokens,
              CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
              CAST(length(text) AS INT) AS n_chars,
              ROUND(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g'))
                    / CAST(nullif(len(toks), 0) AS DOUBLE), 4) AS avg_token_len,
              ROUND(len(list_distinct(toks)) / CAST(nullif(len(toks), 0) AS DOUBLE), 4)
                AS uniq_ratio,
              ROUND(len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t)))
                    / CAST(nullif(len(toks), 0) AS DOUBLE), 4) AS stopword_ratio
       FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)""",
)
def text_quality_scores(spark, sf_dir):
    """Per-document quality features: token counts, distinct ratio,
    avg token length, stopword ratio."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = textfns.tokens("text")
    stats = textfns.token_stats("text")
    n = F.nullif(F.size(toks), F.lit(0)).cast("double")
    return docs.select(
        "doc_id",
        stats["n_tokens"].cast("int").alias("n_tokens"),
        stats["n_distinct_tokens"].cast("int").alias("n_distinct_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        stats["avg_token_len"].alias("avg_token_len"),
        stats["uniq_ratio"].alias("uniq_ratio"),
        F.round(
            textfns.stopword_count(toks, textfns.STOPWORDS["en"]) / n, 4
        ).alias("stopword_ratio"),
    )


@q(
    "langid_stopword_heuristic",
    f"""WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
       s AS (SELECT doc_id, lang,
               len(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) AS s_en,
               len(list_filter(toks, x -> list_contains(['el','la','de','y','que'], x))) AS s_es,
               len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
               len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr
             FROM t)
       SELECT doc_id, lang,
              CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de >= s_fr THEN 'de'
                   ELSE 'fr' END AS predicted_lang,
              CAST(greatest(s_en, s_es, s_de, s_fr) AS INT) AS best_score
       FROM s""",
)
def langid_stopword_heuristic(spark, sf_dir):
    """Language-ID heuristic: stopword-marker hit counts per language,
    argmax with fixed tie order (en > es > de > fr)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    toks = textfns.tokens("text")
    scores = {
        lg: textfns.stopword_count(toks, textfns.STOPWORDS[lg]).alias(f"s_{lg}")
        for lg in ("en", "es", "de", "fr")
    }
    s = docs.select("doc_id", "lang", *scores.values())
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return s.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_lang"),
        F.greatest("s_en", "s_es", "s_de", "s_fr").cast("int").alias("best_score"),
    )


@q(
    "token_counts",
    """SELECT doc_id,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws_tokens,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT)
                AS n_bpe_tokens,
              CAST(length(text) AS INT) AS n_chars
       FROM documents""",
)
def token_counts(spark, sf_dir):
    """Token counting: whitespace split + BPE-ish regex pre-tokenizer."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("int").alias("n_ws_tokens"),
        F.size(textfns.bpe_ish_tokens("text")).cast("int").alias("n_bpe_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


@q(
    "token_heavy_hitters",
    f"""WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
       SELECT tok, COUNT(*) AS freq
       FROM tok WHERE tok <> ''
       GROUP BY 1 ORDER BY freq DESC, tok ASC LIMIT 20""",
)
def token_heavy_hitters(spark, sf_dir):
    """Corpus-wide top-20 token frequencies (exact). The groupBy is
    map-side combined so the shuffle carries one row per distinct
    token per partition; the total order (freq desc, token asc) makes
    the LIMIT deterministic. Scale path for skewed vocabularies:
    approx_count_distinct / count-min over the same explode."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(F.explode(textfns.tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    return (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(20)
    )


@q(
    "tfidf_top_terms",
    f"""WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok
                    FROM documents),
       tokf AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
       tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tokf GROUP BY 1, 2),
       dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT COUNT(*) AS n_docs FROM documents),
       scored AS (SELECT tf.doc_id, tf.tok,
                         ROUND(tf.c * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4)
                           AS tfidf
                  FROM tf JOIN dfreq ON dfreq.tok = tf.tok CROSS JOIN n)
       SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn FROM (
         SELECT doc_id, tok, tfidf,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok ASC) AS rn
         FROM scored)
       WHERE rn <= 3""",
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document, one linear lineage: term
    frequency is one map-side-combined aggregate over the token
    explode, document frequency is COUNT(*) OVER (PARTITION BY tok) on
    that aggregate — a window instead of a self-join, so the heavy
    tokenize+explode pass runs ONCE (the tf ⋈ dfreq formulation
    recomputes it for each branch: measured 6.3 s → this shape at
    sf0.1). The corpus size joins in as a broadcast scalar; the
    per-doc top-k is a second window over the already-small tf set.
    Exchange count: (doc,tok) agg → (tok) window → (doc) window."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(F.col("doc_id"), F.explode(textfns.tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    wdf = Window.partitionBy("tok")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("c") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", F.col("rn").cast("int").alias("rn"))
    )


@q(
    "winnow_fingerprints",
    f"""WITH docs AS (SELECT doc_id, text FROM documents WHERE source = 'src2'),
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh,
                     generate_subscripts({_SHINGLES_SQL}, 1) AS pos
              FROM tok),
       hashed AS (SELECT doc_id, pos, md5(sh) AS h FROM sh WHERE sh <> ''),
       winnowed AS (SELECT doc_id,
                           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
                           pos
                    FROM hashed)
       SELECT doc_id,
              CAST(COUNT(DISTINCT fp) AS INT) AS n_fingerprints,
              MIN(fp) AS min_fingerprint
       FROM winnowed WHERE pos >= 4 GROUP BY doc_id""",
)
def winnow_fingerprints(spark, sf_dir):
    """Document fingerprinting via winnowing: rolling min of shingle
    hashes over a 4-shingle window -> compact sketch per doc."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", fanout=True).filter(F.col("source") == "src2")
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    sh = tokd.select(
        "doc_id",
        F.posexplode(textfns.shingles(F.col("__toks"), 3)).alias("pos0", "sh"),
    ).filter(F.col("sh") != "")
    hashed = sh.select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("sh").alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    winnowed = hashed.select(
        "doc_id", "pos", F.min("h").over(w).alias("fp")
    ).filter(F.col("pos") >= 4)
    return winnowed.groupBy("doc_id").agg(
        F.countDistinct("fp").cast("int").alias("n_fingerprints"),
        F.min("fp").alias("min_fingerprint"),
    )


# ---------------------------------------------------------------- multimodal

@q(
    "multimodal_decode_meta",
    """SELECT doc_id,
              CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
              CAST(octet_length(CAST(text AS BLOB)) % 64 + 1 AS INT) AS width,
              CAST((octet_length(CAST(text AS BLOB)) // 64) % 64 + 1 AS INT)
                AS height,
              3 AS channels,
              sha256(text) AS sha_hex
       FROM documents""",
)
def multimodal_decode_meta(spark, sf_dir):
    """Multimodal decode stage: opaque binary payload -> typed metadata
    through an Arrow-batched mapInPandas worker (the media codec is a
    deterministic stub; the Spark plumbing — binary column, batch
    iteration, schema contract — is the real thing under test)."""
    from ..functions import multimodal

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return multimodal.decode_media(multimodal.attach_payload(docs))


@q(
    "multimodal_frame_sample",
    """WITH vids AS (
         SELECT doc_id, CAST(n_chars % 100 + 1 AS INT) AS n_frames
         FROM documents),
       frames AS (
         SELECT doc_id, n_frames, UNNEST(range(0, n_frames, 10)) AS frame_idx
         FROM vids)
       SELECT doc_id, n_frames,
              CAST(COUNT(*) AS INT) AS n_sampled,
              CAST(MAX(frame_idx) AS INT) AS last_frame
       FROM frames GROUP BY doc_id, n_frames""",
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: every-10th-frame indices generated
    in-engine (sequence/explode), aggregated per clip — the sampling
    topology a real decoder plugs into."""
    from ..functions import multimodal

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    vids = docs.select(
        "doc_id", (F.col("n_chars") % 100 + 1).cast("int").alias("n_frames")
    )
    frames = vids.select(
        "doc_id",
        "n_frames",
        F.explode(multimodal.frame_sample_indices("n_frames", 10)).alias("frame_idx"),
    )
    return frames.groupBy("doc_id", "n_frames").agg(
        F.count(F.lit(1)).cast("int").alias("n_sampled"),
        F.max("frame_idx").cast("int").alias("last_frame"),
    )


@q(
    "audio_wav_features",
    """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
       idx AS (SELECT unnest(generate_series(0, 127)) AS i),
       s AS (SELECT d.doc_id, d.n, idx.i FROM d CROSS JOIN idx
             WHERE idx.i < d.n),
       v AS (SELECT doc_id, n,
                    (doc_id * 17 + i * 11) % 32768 - 16384 AS samp
             FROM s)
       SELECT doc_id,
              1 AS channels,
              8000 AS sample_rate,
              CAST(MIN(n) AS INT) AS n_frames,
              CAST(MIN(n) AS DOUBLE) / 8.0 AS duration_ms,
              ROUND(SQRT(CAST(SUM(samp * samp) AS DOUBLE) / COUNT(*)), 6)
                AS rms
       FROM v GROUP BY doc_id""",
)
def audio_wav_features(spark, sf_dir):
    """REAL audio decode, no stub: each doc gets an actual RIFF/WAVE
    file (mono 16-bit PCM, synthesized deterministically from doc_id),
    which an Arrow-batched mapInPandas stage parses with the stdlib
    ``wave`` module and featurizes (duration, RMS amplitude). The
    oracle recomputes every feature in closed form from the synthesis
    formula, so the hash match certifies the encode -> container-parse
    -> PCM-unpack -> feature roundtrip bit-for-bit. At 100 TB the
    payload column is the object read from blob storage and the stage
    scales by executors — pure per-row, no shuffle."""
    from ..functions import multimodal

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return multimodal.decode_wav(multimodal.attach_wav_payload(docs))


@q(
    "image_bmp_features",
    """WITH d AS (SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 8 + 2 AS h
                  FROM documents),
       xs AS (SELECT unnest(generate_series(0, 19)) AS x),
       ys AS (SELECT unnest(generate_series(0, 9)) AS y),
       px AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y
              FROM d CROSS JOIN xs CROSS JOIN ys
              WHERE xs.x < d.w AND ys.y < d.h),
       v AS (SELECT doc_id, w, h,
                    (doc_id * 31 + x * 7 + y * 13) % 256 AS r,
                    (doc_id * 31 + x * 7 + y * 13 + 5) % 256 AS g,
                    (doc_id * 31 + x * 7 + y * 13 + 10) % 256 AS b
             FROM px)
       SELECT doc_id,
              CAST(MIN(w) AS INT) AS width,
              CAST(MIN(h) AS INT) AS height,
              24 AS bpp,
              ROUND(CAST(SUM(r) AS DOUBLE) / COUNT(*), 6) AS mean_r,
              ROUND(CAST(SUM(g) AS DOUBLE) / COUNT(*), 6) AS mean_g,
              ROUND(CAST(SUM(b) AS DOUBLE) / COUNT(*), 6) AS mean_b
       FROM v GROUP BY doc_id""",
)
def image_bmp_features(spark, sf_dir):
    """REAL image decode, no stub: each doc gets an actual uncompressed
    24-bit BMP (BITMAPINFOHEADER, bottom-up padded BGR rows,
    synthesized deterministically from doc_id), parsed byte-for-byte
    with ``struct`` in an Arrow-batched mapInPandas stage that
    extracts per-channel means. The oracle recomputes the means in
    closed form from the pixel formula — a decoder bug anywhere
    (padding, BGR order, bottom-up rows) breaks the hash match."""
    from ..functions import multimodal

    docs = load_table(spark, sf_dir, "documents", fanout=True)
    return multimodal.decode_bmp(multimodal.attach_bmp_payload(docs))


# list_inner_product over the two needed pair slabs, NOT an element
# explode joined on the 64-value subscript key: that join's hash key
# was i alone, so every probe matched the whole per-subscript corpus
# slice before the OR residual — quadratic at sf1 and the reason the
# composed recall audit's oracle timed out (VERDICT r9 ask #4). The
# UNION's set semantics dedup the (a<3, b<16) overlap; csim values are
# identical in both branches so the dedup is exact.
_IVF_COS_SQL = """
       ivf_vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
       ivf_cos AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
                          ROUND(list_inner_product(a.emb, b.emb)
                                / (sqrt(list_inner_product(a.emb, a.emb))
                                   * sqrt(list_inner_product(b.emb, b.emb))),
                                6) AS csim
                   FROM ivf_vecs a CROSS JOIN ivf_vecs b
                   WHERE b.vec_id < 16
                   UNION
                   SELECT a.vec_id, b.vec_id,
                          ROUND(list_inner_product(a.emb, b.emb)
                                / (sqrt(list_inner_product(a.emb, a.emb))
                                   * sqrt(list_inner_product(b.emb, b.emb))),
                                6)
                   FROM ivf_vecs a CROSS JOIN ivf_vecs b
                   WHERE a.vec_id < 3),
       ivf_cells AS (SELECT ida AS vec_id, idb AS cell FROM (
                       SELECT ida, idb,
                              ROW_NUMBER() OVER (PARTITION BY ida
                                                 ORDER BY csim DESC, idb ASC) AS rn
                       FROM ivf_cos WHERE idb < 16) WHERE rn = 1),
       ivf_probes AS (SELECT ida AS qid, idb AS cell FROM (
                        SELECT ida, idb,
                               ROW_NUMBER() OVER (PARTITION BY ida
                                                  ORDER BY csim DESC, idb ASC) AS rn
                        FROM ivf_cos WHERE idb < 16 AND ida < 3) WHERE rn <= 4)
"""


@q(
    "ann_ivf_topk",
    f"""WITH {_IVF_COS_SQL.lstrip()}
       SELECT qid, vec_id, cosine, CAST(rn AS INT) AS rn FROM (
         SELECT p.qid, cl.vec_id, cs.csim AS cosine,
                ROW_NUMBER() OVER (PARTITION BY p.qid
                                   ORDER BY cs.csim DESC, cl.vec_id ASC) AS rn
         FROM ivf_probes p
         JOIN ivf_cells cl ON cl.cell = p.cell
         JOIN ivf_cos cs ON cs.ida = p.qid AND cs.idb = cl.vec_id)
       WHERE rn <= 5""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN, the scale path beside lsh_topk: corpus
    assigned once to 16 deterministic centroid cells (inverted lists),
    3 queries probe their 4 nearest cells and score only those lists.
    Same output contract as ann_brute_force_topk; recall < 1 by
    construction on out-of-cell neighbors."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4)
    return out.select("qid", "vec_id", "cosine", F.col("rn").cast("int").alias("rn"))


@q(
    "ann_lsh_topk",
    """WITH grid AS (
         SELECT t.t, p.p FROM (SELECT UNNEST([0, 1, 2]) AS t) t
         CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4, 5]) AS p) p),
       lsh_elems AS (
         SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       proj AS (
         SELECT e.vec_id, g.t, g.p,
                SUM(CAST(e.v AS DOUBLE)
                    * (CAST('0x' || substr(md5(g.t || '|' || g.p || '|'
                                              || CAST(e.i - 1 AS VARCHAR)), 1, 6)
                            AS BIGINT) / 8388608.0 - 1.0)) AS s
         FROM lsh_elems e CROSS JOIN grid g GROUP BY 1, 2, 3),
       buckets AS (
         SELECT vec_id, t,
                SUM(CASE WHEN s > 0 THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END)
                  AS bucket
         FROM proj GROUP BY 1, 2),
       cands AS (
         SELECT DISTINCT q.vec_id AS qid, c.vec_id
         FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
         WHERE q.vec_id < 3),
       lsh_vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
       -- candidate rescoring via list_inner_product (no second element
       -- explode; same 6dp-rounded values — see _ANN_DOTS_SQL note)
       scored AS (
         SELECT cd.qid, cd.vec_id,
                ROUND(list_inner_product(a.emb, b.emb)
                      / (sqrt(list_inner_product(a.emb, a.emb))
                         * sqrt(list_inner_product(b.emb, b.emb))),
                      6) AS cosine
         FROM cands cd
         JOIN lsh_vecs a ON a.vec_id = cd.qid
         JOIN lsh_vecs b ON b.vec_id = cd.vec_id)
       SELECT qid, vec_id, cosine, CAST(rn AS INT) AS rn FROM (
         SELECT qid, vec_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id ASC) AS rn
         FROM scored)
       WHERE rn <= 5""",
)
def ann_lsh_topk(spark, sf_dir):
    """Banded random-hyperplane LSH ANN, oracle-matched end-to-end:
    the md5-derived hyperplanes are bit-reproducible in DuckDB, so the
    bucket assignment, the OR-of-3-tables candidate set, and the final
    top-5 all hash-match — the whole approximate index is deterministic
    cross-engine, not just the exact rescoring."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.lsh_topk(
        emb, queries, k=5, n_planes=6, n_tables=3, dim=64  # TESTDATA.md embedding dim
    )
    return out.select("qid", "vec_id", "cosine", F.col("rn").cast("int").alias("rn"))


def _kmeans_oracle(k: int = 8, iters: int = 4) -> str:
    """Lloyd's k-means unrolled to one DuckDB query — iteration r is
    three CTEs (distances from the cent{r} list column, row_number
    argmin with the same lowest-index tie-break as array_position,
    per-(cluster,pos) AVG rounded to 6 like the Spark driver-side
    collect), with COALESCE carrying empty clusters' centroids
    forward. The per-round ROUND(·, 6) centroid pinning is what makes
    the iteration cross-engine stable: float summation-order noise
    (~1e-16) cannot survive a 1e-6 grid between rounds. Distances are
    list_zip/list_sum folds — the same left-to-right order as Spark's
    F.aggregate fold (parity evidenced by the green embedding
    oracles)."""
    its = []
    for r in range(iters):
        its.append(f"""
       dist{r} AS (
         SELECT e.vec_id, c.cluster_id,
                list_sum(list_transform(list_zip(e.embedding, c.cvec),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
         FROM embeddings e CROSS JOIN cent{r} c),
       asg{r} AS (
         SELECT vec_id, cluster_id, d2 FROM (
           SELECT vec_id, cluster_id, d2,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cluster_id) AS rn
           FROM dist{r}) WHERE rn = 1),
       avg{r} AS (
         SELECT a.cluster_id, x.pos, ROUND(AVG(x.x), 6) AS m
         FROM asg{r} a
         JOIN (SELECT vec_id,
                      unnest(range(0, len(embedding))) AS pos,
                      unnest(embedding) AS x
               FROM embeddings) x USING (vec_id)
         GROUP BY 1, 2),
       cent{r + 1} AS (
         SELECT cluster_id,
                list(COALESCE(a.m, p.c) ORDER BY p.pos) AS cvec
         FROM (SELECT cluster_id,
                      unnest(range(0, len(cvec))) AS pos,
                      unnest(cvec) AS c
               FROM cent{r}) p
         LEFT JOIN avg{r} a USING (cluster_id, pos)
         GROUP BY cluster_id)""")
    last = iters - 1
    return f"""WITH init AS (
         SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                embedding
         FROM (SELECT vec_id, embedding FROM embeddings
               ORDER BY vec_id LIMIT {k})),
       cent0 AS (
         SELECT cluster_id,
                list_transform(embedding, x -> ROUND(x, 6)) AS cvec
         FROM init),{",".join(its)}
       SELECT a.cluster_id,
              COUNT(*) AS n_members,
              ROUND(SUM(a.d2), 2) AS inertia,
              ANY_VALUE(ROUND(sqrt(list_sum(
                  list_transform(c.cvec, x -> x * x))), 4)) AS centroid_norm
       FROM asg{last} a JOIN cent{iters} c USING (cluster_id)
       GROUP BY a.cluster_id ORDER BY a.cluster_id"""


@q("kmeans_embedding_clusters", _kmeans_oracle())
def kmeans_embedding_clusters(spark, sf_dir, k: int = 8, iters: int = 4):
    """Lloyd's k-means over the embedding column, Spark-first and
    deterministic (oracle: the same 4 rounds unrolled as CTEs in
    _kmeans_oracle; also pinned against a dense numpy replay in
    tests/test_advanced.py).

    Init: the k lowest-vec_id vectors (deterministic, no RNG — the
    fixtures forbid Date.now-style seeds). Per iteration:
      1. assignment is a pure JVM expression — one zip_with/aggregate
         squared-distance fold per centroid against array literals,
         argmin via least(); no Python, no shuffle;
      2. centroid update posexplodes (row, dim) map-side and averages
         per (cluster, dim) in ONE shuffle of k*dims*partitions
         partial rows; the k×dims result (tiny) collects to the
         driver and becomes the next round's literals, rounded to 6
         decimals so every round's plan is bit-deterministic.
    At 100 TB the per-iteration cost is one scan + one k*dims-sized
    shuffle — the same topology mini-batch k-means uses; k and dims
    bound the state, never the row count.

    Returns one row per cluster: size, inertia share, centroid norm.
    """
    # one materialization serves the init collect + every iteration's
    # assignment/update scan (uncached, each of the iters+1 jobs
    # re-reads and re-decodes the parquet; on a cluster this is the
    # canonical cache() of an iterative working set)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .cache()
    )
    init = emb.orderBy("vec_id").limit(k).collect()
    centroids = [[round(float(x), 6) for x in r.embedding] for r in init]

    # r10 OPT (guide §1.2 per-task work): centroids used to be inlined
    # as k*dims DOUBLE LITERALS, so every iteration generated a NEW
    # whole-stage source and paid a fresh Janino compile (the data is
    # 2k vectors — compilation, not compute, dominated the 3.2 s at
    # sf0.1). Shipping them as a 1-row broadcast keeps the generated
    # code byte-identical across iterations (compile once, reuse 4x).
    # The arithmetic is the same zip_with/aggregate fold over the same
    # doubles in the same order — assignments and centroid updates are
    # bit-identical to the literal form (re-verified vs the oracle).
    def _dists(cents_col):
        return F.transform(
            cents_col,
            lambda cvec: F.aggregate(
                F.zip_with(
                    F.col("embedding"), cvec, lambda x, c: (x - c) * (x - c)
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )

    assigned = None
    for _ in range(iters):
        # (a constant-key BroadcastHashJoin variant — to keep whole-
        # stage codegen above the join — measured within noise of this
        # crossJoin/BNLJ form at bench scale; the paired-run evidence
        # favors this simpler shape, see OPTIMIZATION_r10.md)
        cents_df = spark.createDataFrame(
            [(centroids,)], "__cents array<array<double>>"
        )
        dists = _dists(F.col("__cents"))
        # coalesce: provably non-null, so the cluster_id join's inferred
        # isnotnull constraint constant-folds instead of re-inlining the
        # distance folds into a Filter (the fleet-wide plan-gate hazard).
        assigned = (
            emb.crossJoin(F.broadcast(cents_df))
            .select(
                "vec_id",
                "embedding",
                F.coalesce(
                    F.array_position(dists, F.array_min(dists)) - 1,
                    F.lit(-1),
                ).alias("cluster_id"),
                F.array_min(dists).alias("d2"),
            )
        )
        upd = (
            assigned.select("cluster_id", F.posexplode("embedding"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new = {}
        for r in upd:
            new.setdefault(r.cluster_id, [0.0] * len(centroids[0]))[r.pos] = round(
                float(r.m), 6
            )
        centroids = [new.get(i, centroids[i]) for i in range(k)]

    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("d2"), 2).alias("inertia"),
        )
        .join(
            spark.createDataFrame(
                [(i, round(sum(x * x for x in c) ** 0.5, 4)) for i, c in enumerate(centroids)],
                "cluster_id int, centroid_norm double",
            ),
            "cluster_id",
        )
        .orderBy("cluster_id")
    )


# Explicit portable HyperLogLog: m=256 buckets (p=8, ~6.5% rsd), md5
# bucket + leading-zero rank. The 2^-M_j register sum is kept EXACT by
# scaling to integers (2^(53-M_j) summed as BIGINT), so both engines
# compute bit-identical estimates — the only transcendental is the
# small-range ln(), rounded to 2 decimals.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_NUMER = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(2**53)


@q(
    "sketch_cardinalities",
    f"""WITH h AS (
         SELECT event_type,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::INT AS bucket,
                ltrim(substr(md5(CAST(user_id AS VARCHAR)), 3, 13), '0') AS sig
         FROM events),
       r AS (SELECT event_type, bucket,
                    CASE WHEN length(sig) = 0 THEN 53
                         ELSE 4 * (13 - length(sig))
                              + CASE WHEN substr(sig, 1, 1) = '1' THEN 3
                                     WHEN substr(sig, 1, 1) IN ('2', '3') THEN 2
                                     WHEN substr(sig, 1, 1) IN ('4', '5', '6', '7') THEN 1
                                     ELSE 0 END + 1 END AS rank
             FROM h),
       b AS (SELECT event_type, bucket, MAX(rank) AS m_j, COUNT(*) AS c
             FROM r GROUP BY 1, 2),
       a AS (SELECT event_type,
                    CAST(COUNT(*) AS INT) AS n_hit,
                    SUM((1::BIGINT << (53 - m_j))) AS s_hit,
                    SUM(c) AS n_rows
             FROM b GROUP BY 1),
       e AS (SELECT event_type, n_hit, n_rows,
                    CAST({_HLL_NUMER!r} AS DOUBLE)
                    / CAST(s_hit + CAST({_HLL_M} - n_hit AS BIGINT) * {2**53}
                           AS DOUBLE) AS raw
             FROM a)
       SELECT event_type,
              CASE WHEN raw <= {2.5 * _HLL_M} AND n_hit < {_HLL_M}
                   THEN ROUND({float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                              / CAST({_HLL_M} - n_hit AS DOUBLE)), 2)
                   ELSE ROUND(raw, 2) END AS approx_users,
              n_hit AS n_buckets_hit,
              CAST(n_rows AS BIGINT) AS n_rows
       FROM e""",
)
def sketch_cardinalities(spark, sf_dir):
    """The 100 TB COUNT(DISTINCT) path (SURVEY §2.5 A4): per-group
    HyperLogLog — mergeable bucket-max state, ONE shuffle of 256
    registers per group instead of a distinct-key exchange. Production
    is the same algorithm behind ``approx_count_distinct`` /
    ``hll_sketch_agg`` at p=14 (error-pinned in tests/test_approx.py);
    this query spells the register algebra out with md5 so the DuckDB
    oracle reproduces the estimate bit-for-bit: exact integer register
    sums (2^(53-M_j) as BIGINT), IEEE-deterministic raw estimate, and
    HLL's small-range linear counting ln(m/V) branch rounded to 2
    decimals."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    sig = F.expr(
        "trim(LEADING '0' FROM substring(md5(cast(user_id as string)), 3, 13))"
    )
    d1 = F.substring(sig, 1, 1)
    rank = F.when(F.length(sig) == 0, F.lit(53)).otherwise(
        4 * (13 - F.length(sig))
        + F.when(d1 == "1", 3)
        .when(d1.isin("2", "3"), 2)
        .when(d1.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    b = (
        ev.select(
            "event_type",
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").alias("m_j"), F.count(F.lit(1)).alias("c"))
    )
    a = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_hit"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - m_j)")).alias("s_hit"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    denom = (
        F.col("s_hit")
        + (F.lit(_HLL_M) - F.col("n_hit")).cast("long") * F.lit(2**53)
    ).cast("double")
    raw = F.lit(_HLL_NUMER) / denom
    linear = F.round(
        F.lit(float(_HLL_M))
        * F.log(
            F.lit(float(_HLL_M))
            / (F.lit(_HLL_M) - F.col("n_hit")).cast("double")
        ),
        2,
    )
    est = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("n_hit") < _HLL_M), linear
    ).otherwise(F.round(raw, 2))
    return a.select(
        "event_type",
        est.alias("approx_users"),
        F.col("n_hit").alias("n_buckets_hit"),
        "n_rows",
    )


@q(
    "embedding_norm_outliers",
    """WITH stats AS (
         SELECT vec_id, label,
                ROUND(sqrt(list_sum(list_transform(embedding,
                                                   x -> CAST(x AS DOUBLE) * x))),
                      6) AS norm,
                ROUND(list_max(list_transform(embedding,
                                              x -> abs(CAST(x AS DOUBLE)))),
                      6) AS max_abs
         FROM embeddings)
       SELECT vec_id, label, norm, max_abs,
              CASE WHEN ABS(norm - 1.0) > 0.001 THEN 'bad_norm'
                   ELSE 'dominant_axis' END AS reason
       FROM stats
       WHERE ABS(norm - 1.0) > 0.001 OR max_abs > 0.45
       ORDER BY vec_id""",
)
def embedding_norm_outliers(spark, sf_dir):
    """Embedding-pipeline health screen for a unit-normalized corpus:
    flag vectors whose L2 norm drifts from 1 (broken normalization /
    dead encoder) or where a single component carries an outsized
    share of the mass (max |x| > 0.45 on 64-dim unit vectors —
    degenerate, near-one-hot embeddings that poison cosine
    neighborhoods). Both statistics are JVM array folds — map-only,
    no shuffle; the screening pass you run before trusting an ANN
    index built from a new embedding batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    max_abs = F.round(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        6,
    )
    stats = emb.select(
        "vec_id",
        "label",
        norm.alias("norm"),
        max_abs.alias("max_abs"),
    )
    # Catalyst pushes this filter below the projection, re-inlining
    # both folds into the scan's row filter. For THIS query that is
    # the plan you want: the health predicate is the selective gate
    # (outliers are a tiny fraction), so the scan filter pays the fold
    # once per row — unavoidable, the predicate needs it — and the
    # projection re-evaluates only for the survivors. The fleet-wide
    # HOF-in-scan-filter gate allowlists this query with the same
    # reasoning (its hazard case is NON-selective filters, where both
    # Filter and Project run the lambdas over the full corpus).
    return (
        stats.filter(
            (F.abs(F.col("norm") - 1.0) > 0.001) | (F.col("max_abs") > 0.45)
        )
        .select(
            "vec_id",
            "label",
            "norm",
            "max_abs",
            F.when(F.abs(F.col("norm") - 1.0) > 0.001, "bad_norm")
            .otherwise("dominant_axis")
            .alias("reason"),
        )
        .orderBy("vec_id")
    )


@q(
    "doc_chunking_map",
    f"""WITH t AS (
         SELECT doc_id, toks, len(toks) AS n_tok
         FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
         WHERE len(toks) > 0),
       nc AS (
         SELECT doc_id, toks, n_tok,
                CASE WHEN n_tok <= 64 THEN 1
                     ELSE (n_tok - 64 + 47) // 48 + 1 END AS n_chunks
         FROM t),
       ch AS (
         SELECT doc_id, toks, n_tok,
                unnest(range(0, n_chunks)) AS ci
         FROM nc)
       SELECT doc_id,
              CAST(ci AS INT) AS chunk_idx,
              CAST(ci * 48 + 1 AS INT) AS start_tok,
              CAST(least(64, n_tok - ci * 48) AS INT) AS chunk_len,
              md5(array_to_string(
                    toks[(ci * 48 + 1):(ci * 48 + least(64, n_tok - ci * 48))],
                    ' ')) AS chunk_hash
       FROM ch""",
)
def doc_chunking_map(spark, sf_dir):
    """Retrieval/context chunking — split every document into
    64-token windows with 16-token overlap (stride 48), the per-doc
    chunk map an embedding or RAG indexing stage consumes: chunk
    index, 1-based token offset, actual length (tail chunks run
    short), and an md5 content hash of the chunk's tokens so the
    slicing itself is oracle-verified, not just the arithmetic.
    Entirely map-side — chunk count is integer math on the token
    count, the windows come from one sequence+explode per doc, and
    the slice is an array op; no shuffle at any size (contrast
    sequence_packing_map, which needs the global running sum)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    t = docs.select(
        "doc_id", textfns.tokens("text").alias("toks")
    ).withColumn("n_tok", F.size("toks")).filter(F.col("n_tok") > 0)
    n_chunks = F.when(F.col("n_tok") <= 64, F.lit(1)).otherwise(
        F.floor((F.col("n_tok") - 64 + 47) / 48) + 1
    )
    ch = t.withColumn(
        "ci", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    chunk_len = F.least(F.lit(64), F.col("n_tok") - F.col("ci") * 48)
    return ch.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        (F.col("ci") * 48 + 1).cast("int").alias("start_tok"),
        chunk_len.cast("int").alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("ci") * 48 + 1, chunk_len)
            )
        ).alias("chunk_hash"),
    )


@q(
    "ann_pq_topk",
    """WITH pq_elems AS (
         SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       pq_sub AS (
         SELECT vec_id, CAST(FLOOR((i - 1) / 8) AS INT) AS m,
                (i - 1) % 8 AS j, CAST(v AS DOUBLE) AS v
         FROM pq_elems),
       pq_cw AS (SELECT m, vec_id AS code, j, v FROM pq_sub
                 WHERE vec_id < 16),
       pq_encd AS (
         SELECT s.vec_id, s.m, c.code,
                ROUND(SUM((s.v - c.v) * (s.v - c.v)), 6) AS d2
         FROM pq_sub s JOIN pq_cw c ON s.m = c.m AND s.j = c.j
         GROUP BY 1, 2, 3),
       pq_codes AS (
         SELECT vec_id, m, code FROM (
           SELECT vec_id, m, code,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2 ASC, code ASC) AS rn
           FROM pq_encd) WHERE rn = 1),
       pq_qt AS (SELECT vec_id AS qid, m, code, d2 AS qd2
                 FROM pq_encd WHERE vec_id < 3),
       pq_adc AS (
         SELECT q.qid, t.vec_id, ROUND(SUM(q.qd2), 6) AS approx_dist
         FROM pq_codes t JOIN pq_qt q ON q.m = t.m AND q.code = t.code
         WHERE q.qid <> t.vec_id
         GROUP BY 1, 2)
       SELECT qid, vec_id, approx_dist, CAST(rn AS INT) AS rn FROM (
         SELECT qid, vec_id, approx_dist,
                ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY approx_dist ASC, vec_id ASC) AS rn
         FROM pq_adc) WHERE rn <= 5""",
)
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.pq_topk) — the
    memory-compression arm of the ANN ladder: 64-dim vectors become 8
    one-byte codes; queries scan codes via per-subspace ADC lookup
    tables, never touching full-width corpus floats. The oracle
    reproduces the ENTIRE index — codebook selection, per-subspace
    encode argmin, ADC table sums, final top-5 — so the hash match
    certifies the quantizer itself, not just the output shape
    (codebooks are the deterministic lowest-id sample, documented like
    ivf_topk's coarse quantizer)."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.pq_topk(
        emb, queries, k=5, m_subspaces=8, n_codes=16
    )


@q(
    "hashed_bow_vectorize",
    """WITH tok AS (
         SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         FROM documents),
       bkt AS (
         SELECT doc_id,
                CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS INT)
                  AS bucket
         FROM tok WHERE tok <> ''),
       cnt AS (SELECT doc_id, bucket, COUNT(*) AS c
               FROM bkt GROUP BY 1, 2),
       top AS (SELECT doc_id, bucket AS top_bucket, c AS top_count FROM (
                 SELECT doc_id, bucket, c,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY c DESC, bucket ASC) AS rn
                 FROM cnt) WHERE rn = 1)
       SELECT cnt.doc_id,
              CAST(COUNT(*) AS INT) AS nnz,
              ROUND(SQRT(CAST(SUM(c * c) AS DOUBLE)), 6) AS l2_norm,
              CAST(MIN(top_bucket) AS INT) AS top_bucket,
              CAST(MIN(top_count) AS BIGINT) AS top_count
       FROM cnt JOIN top ON cnt.doc_id = top.doc_id
       GROUP BY 1""",
)
def hashed_bow_vectorize(spark, sf_dir):
    """In-engine text vectorization by the hashing trick: tokens hash
    into a fixed 64-bucket space (md5-derived, bit-identical cross
    engine), per-doc bucket counts ARE the sparse bag-of-words vector
    — the zero-vocabulary, zero-shuffle-state featurizer that feeds
    the ANN / clustering / classifier operators when no trained
    embedding model exists. No vocabulary table, no OOV: the hash IS
    the index, which is what makes the method viable on an unbounded
    100 TB stream. Output summarizes each vector exactly (support
    size, integer-exact L2 norm, arg-max bucket with a total
    tie-break)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "doc_id", F.explode(textfns.tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    bkt = tok.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
            F.lit(64),
        )
        .cast("int")
        .alias("bucket"),
    )
    cnt = bkt.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("nnz"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")), 6)
          .alias("l2_norm"),
        F.min_by("bucket", F.struct(-F.col("c"), F.col("bucket")))
          .cast("int")
          .alias("top_bucket"),
        F.max("c").cast("long").alias("top_count"),
    )


_K_SUB = 5  # token span length for exact-substring dedup


@q(
    "exact_substring_dup_coverage",
    f"""WITH tok AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
       base AS (SELECT doc_id, source, len(toks) AS n_tok, toks FROM tok
                WHERE len(toks) > 0),
       sh AS (SELECT doc_id, source, n_tok,
                     list_transform(range(1, greatest(len(toks) - {_K_SUB - 1}, 0) + 1),
                                    i -> array_to_string(toks[i:i+{_K_SUB - 1}], ' '))
                       AS shl
              FROM base),
       grams AS (SELECT doc_id, source, n_tok,
                        unnest(shl) AS g,
                        unnest(range(0, len(shl))) AS pos0
                 FROM sh),
       repeated AS (SELECT g FROM grams
                    GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       rep AS (SELECT doc_id, source, n_tok, pos0
               FROM grams JOIN repeated USING (g)),
       brk AS (SELECT doc_id, source, n_tok, pos0,
                      CASE WHEN lag(pos0) OVER w IS NULL
                                OR pos0 - lag(pos0) OVER w > {_K_SUB}
                           THEN 1 ELSE 0 END AS is_brk
               FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos0)),
       tagged AS (SELECT doc_id, source, n_tok, pos0,
                         SUM(is_brk) OVER (PARTITION BY doc_id ORDER BY pos0
                                           ROWS UNBOUNDED PRECEDING) AS isl
                  FROM brk),
       per_isl AS (SELECT doc_id, source, n_tok, isl,
                          MAX(pos0) - MIN(pos0) + {_K_SUB} AS cov
                   FROM tagged GROUP BY 1, 2, 3, 4),
       per_doc AS (SELECT doc_id, SUM(cov) AS covered
                   FROM per_isl GROUP BY 1),
       alldocs AS (SELECT b.source, b.n_tok,
                          COALESCE(p.covered, 0) AS covered
                   FROM base b LEFT JOIN per_doc p USING (doc_id))
       SELECT source, COUNT(*) AS n_docs,
              COUNT(CASE WHEN covered * 5 >= n_tok THEN 1 END) AS n_dup_heavy,
              ROUND(AVG(CAST(covered AS DOUBLE) / n_tok), 4) AS avg_dup_share
       FROM alldocs GROUP BY 1""",
)
def exact_substring_dup_coverage(spark, sf_dir):
    """Exact-substring duplication coverage (the ExactSubstr dedup
    signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public): for every document, the share
    of its tokens covered by 5-token spans that also occur
    verbatim in at least one OTHER document, with overlapping /
    adjacent spans merged into islands (gaps-and-islands over span
    start positions: a new island starts when the gap exceeds the
    span length) so coverage never double-counts. Reported per
    source: doc count, dup-heavy docs (>=20 pct covered, integer
    cross-multiplied), mean coverage share.

    Scale shape: one corpus explode to (gram, pos) rows, one
    gram-grain aggregate for the cross-doc repeated set, one equi-join
    back (both sides shuffle on the gram key — linear, no all-pairs),
    then per-doc windows at doc grain. The repeated-gram set is the
    corpus's duplicated tail only; at 100 TB the join is the same
    co-partitioned shuffle MinHash banding uses, and the window state
    is bounded by spans-per-doc."""
    k = _K_SUB
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select(
        "doc_id", "source", textfns.tokens("text").alias("__toks")
    )
    base = tokd.select(
        "doc_id", "source", F.size("__toks").alias("n_tok"), "__toks"
    ).filter(F.col("n_tok") > 0)
    # r10 OPT (guide §2.3 shuffle keys, not payloads): the gram key is
    # internal (only grouped and joined on, never output), so the raw
    # 5-token shingle STRING that used to cross both exchanges is
    # replaced by its xxhash64 — 8 bytes per row instead of ~30-60, and
    # string hashing/compare drops out of the aggregate. Duplicate sets
    # are unchanged modulo 64-bit collisions (birthday ~1e-6 at the sf1
    # decade); value-verified vs the oracle at sf0.001/0.01/0.1.
    # Scale qualification (ADVICE r10 #2): one 64-bit key is safe to
    # ~1e9 grams; at the full 100 TB corpus (~1e11-1e12 grams) pair it
    # with a second independent 64-bit hash or fall back to md5 — see
    # operators/dedup.py exact_substring_spans for the full note.
    # r11 OPT (VERDICT r10 #7): gram keys now come from the xor-rotate
    # fold over per-token hashes (functions/text.gram_hashes) — no
    # 5-token concat string is materialized per position; same
    # internal-key collision class, value-verified vs the oracle at
    # three SFs.
    grams = base.withColumn(
        "__th", textfns.token_hashes(F.col("__toks"))
    ).select(
        "doc_id",
        "source",
        "n_tok",
        F.posexplode(textfns.gram_hashes(F.col("__th"), k)).alias(
            "pos0", "g"
        ),
    )
    repeated = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("g")
    )
    rep = grams.join(repeated, "g").select("doc_id", "n_tok", "pos0")
    w = Window.partitionBy("doc_id").orderBy("pos0")
    brk = F.when(
        F.lag("pos0").over(w).isNull()
        | (F.col("pos0") - F.lag("pos0").over(w) > k),
        1,
    ).otherwise(0)
    tagged = rep.withColumn(
        "__isl",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        tagged.groupBy("doc_id", "__isl")
        .agg((F.max("pos0") - F.min("pos0") + k).alias("__cov"))
        .groupBy("doc_id")
        .agg(F.sum("__cov").alias("covered"))
    )
    alldocs = base.join(per_doc, "doc_id", "left").select(
        "source",
        "n_tok",
        F.coalesce("covered", F.lit(0)).alias("covered"),
    )
    return alldocs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("covered") * 5 >= F.col("n_tok"), 1)).alias(
            "n_dup_heavy"
        ),
        F.round(
            F.avg(F.col("covered").cast("double") / F.col("n_tok")), 4
        ).alias("avg_dup_share"),
    )


@q(
    "semdedup_cluster_prune",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
       cents AS (SELECT embedding AS cemb,
                        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx
                 FROM e ORDER BY vec_id LIMIT 8),
       elems AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM e),
       celems AS (SELECT cidx,
                         ROUND(CAST(unnest(cemb) AS DOUBLE), 6) AS c,
                         generate_subscripts(cemb, 1) AS i
                  FROM cents),
       d2 AS (SELECT e.vec_id, c.cidx,
                     ROUND(SUM((e.v - c.c) * (e.v - c.c)), 6) AS d2
              FROM elems e JOIN celems c USING (i) GROUP BY 1, 2),
       asg AS (SELECT vec_id, cidx AS cluster_id FROM (
                 SELECT vec_id, cidx,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2 ASC, cidx ASC) AS rn
                 FROM d2) WHERE rn = 1),
       nrm AS (SELECT vec_id, SUM(v * v) AS n2 FROM elems GROUP BY 1),
       vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM e),
       -- pair cosines via list_inner_product, NOT an element explode:
       -- the exploded form multiplies the within-cluster pair join by
       -- dims (64) and its 3-key hash agg blew past the sim's 40 GB
       -- DuckDB budget at sf1; the list form streams straight into the
       -- per-cluster aggregate (VERDICT r9 ask #3)
       flagged AS (
         SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b
         FROM asg a
         JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         JOIN vecs va ON va.vec_id = a.vec_id
         JOIN vecs vb ON vb.vec_id = b.vec_id
         JOIN nrm na ON na.vec_id = a.vec_id
         JOIN nrm nb ON nb.vec_id = b.vec_id
         WHERE ROUND(list_inner_product(va.emb, vb.emb)
                     / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.35),
       per_cluster AS (
         SELECT cluster_id,
                COUNT(*) AS n_neardup_pairs,
                COUNT(DISTINCT id_b) AS n_dropped
         FROM flagged GROUP BY 1)
       SELECT CAST(a.cluster_id AS INTEGER) AS cluster_id,
              COUNT(*) AS n_vectors,
              COALESCE(MAX(p.n_neardup_pairs), 0) AS n_neardup_pairs,
              COALESCE(MAX(p.n_dropped), 0) AS n_dropped,
              COUNT(*) - COALESCE(MAX(p.n_dropped), 0) AS n_kept
       FROM asg a LEFT JOIN per_cluster p ON a.cluster_id = p.cluster_id
       GROUP BY 1""",
)
def semdedup_cluster_prune(spark, sf_dir, k: int = 8, tau: float = 0.35):
    """SemDeDup (Abbas et al. 2023, public): semantic dedup that
    bounds the quadratic — embeddings are first assigned to k
    clusters, then exact-cosine near-duplicate pairs are searched
    only WITHIN each cluster, and every vector with a lower-id
    near-duplicate in its cluster is dropped (one deterministic
    representative per duplicate neighborhood survives). Per cluster:
    size, near-dup pair count, dropped and kept counts.

    Determinism across engines: centroids are the k lowest-vec_id
    vectors rounded to 6 decimals (no RNG — same init as
    kmeans_embedding_clusters); squared distances and cosines are
    rounded to 6 before the argmin / threshold compare, ties break on
    centroid index, so no ulp difference can flip an assignment or a
    flag. Scale shape: assignment is a pure JVM fold against centroid
    literals (no shuffle); the pair search is an equi-join on
    cluster_id — the all-pairs blowup is capped at the largest
    cluster, which is exactly the knob SemDeDup's k controls at
    100 TB. Norms hoist before the join; the k x dims init collect is
    the same tiny driver round-trip the k-means operator documents."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True).select(
        "vec_id", "embedding"
    )
    init = emb.orderBy("vec_id").limit(k).collect()
    cents = [[round(float(x), 6) for x in r.embedding] for r in init]

    def _d2(cvec):
        arr = F.array(*[F.lit(float(c)) for c in cvec])
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    arr,
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
            6,
        )

    dists = F.array(*[_d2(c) for c in cents])
    assigned = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("__e"),
        F.coalesce(
            F.array_position(dists, F.array_min(dists)) - 1, F.lit(-1)
        )
        .cast("int")
        .alias("cluster_id"),
    ).withColumn(
        "__n2",
        F.aggregate(
            F.transform(F.col("__e"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
    )
    a = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("id_a"),
        F.col("__e").alias("__ea"),
        F.col("__n2").alias("__na"),
    )
    b = assigned.select(
        F.col("cluster_id").alias("__cb"),
        F.col("vec_id").alias("id_b"),
        F.col("__e").alias("__eb"),
        F.col("__n2").alias("__nb"),
    )
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("__ea"), F.col("__eb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
        / (F.sqrt("__na") * F.sqrt("__nb")),
        6,
    )
    flagged = (
        a.join(
            b,
            (F.col("cluster_id") == F.col("__cb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= tau)
        .select("cluster_id", "id_a", "id_b")
    )
    per_cluster = flagged.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_neardup_pairs"),
        F.count_distinct("id_b").alias("n_dropped"),
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return sizes.join(per_cluster, "cluster_id", "left").select(
        "cluster_id",
        "n_vectors",
        F.coalesce("n_neardup_pairs", F.lit(0)).alias("n_neardup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
            "n_kept"
        ),
    )


@q(
    "quality_threshold_sweep",
    f"""WITH per_doc AS (
         SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                ROUND(len(list_distinct(toks))
                      / CAST(nullif(len(toks), 0) AS DOUBLE), 4) AS uniq_ratio
         FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)),
       grid AS (SELECT unnest([30, 35, 40, 45, 50, 55, 60, 65, 70]) AS t_pct),
       tot AS (SELECT COUNT(*) AS n_total FROM per_doc)
       SELECT t_pct,
              COUNT(CASE WHEN uniq_ratio >= t_pct / 100.0 THEN 1 END) AS n_kept,
              ROUND(COUNT(CASE WHEN uniq_ratio >= t_pct / 100.0 THEN 1 END)
                    / CAST(n_total AS DOUBLE), 4) AS kept_share,
              CAST(COALESCE(SUM(CASE WHEN uniq_ratio >= t_pct / 100.0
                                     THEN n_tokens END), 0) AS BIGINT)
                AS kept_tokens
       FROM per_doc CROSS JOIN grid CROSS JOIN tot
       GROUP BY t_pct, n_total""",
)
def quality_threshold_sweep(spark, sf_dir):
    """Filter-calibration curve — the selection sweep you consult
    BEFORE committing a quality threshold: for a grid of cutoffs over
    the per-doc distinct-token ratio (the repetition signal from
    text_quality_scores), how many documents and how much token mass
    survive. The per-doc score is computed once (rounded before any
    compare, same ROUND on both engines), fanned across the 9-point
    grid by an in-row literal explode, and reduced in one
    threshold-grain aggregate — corpus scanned once, no per-threshold
    jobs. At 100 TB this replaces 9 exploratory filter runs with one
    pass."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    per_doc = tokd.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("__toks"))
            / F.nullif(F.size("__toks"), F.lit(0)).cast("double"),
            4,
        ).alias("uniq_ratio"),
    )
    # every doc contributes exactly one row per grid point, so the
    # per-threshold group count IS the corpus total — no global window
    # (which would collapse the corpus to one partition) and no second
    # scan for the denominator
    swept = per_doc.select(
        "n_tokens",
        "uniq_ratio",
        F.explode(
            F.array(*[F.lit(t) for t in range(30, 75, 5)])
        ).alias("t_pct"),
    )
    kept = F.col("uniq_ratio") >= F.col("t_pct") / 100.0
    return swept.groupBy("t_pct").agg(
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.round(
            F.count(F.when(kept, 1)) / F.count(F.lit(1)).cast("double"), 4
        ).alias("kept_share"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )


@q(
    "source_unigram_kl",
    f"""WITH tok AS (
         SELECT source, unnest(toks) AS t
         FROM (SELECT source, {_TOKS_SQL} AS toks FROM documents)),
       st AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       tot AS (SELECT source, SUM(c) AS n_s FROM st GROUP BY 1),
       corp AS (SELECT t, SUM(c) AS c_all FROM st GROUP BY 1),
       big AS (SELECT SUM(c) AS n_all FROM st)
       SELECT st.source,
              CAST(tot.n_s AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS INT) AS vocab_used,
              ROUND(SUM((CAST(st.c AS DOUBLE) / tot.n_s)
                        * ln((CAST(st.c AS DOUBLE) / tot.n_s)
                             / (CAST(corp.c_all AS DOUBLE) / big.n_all))),
                    6) AS kl_nats
       FROM st
       JOIN tot USING (source)
       JOIN corp USING (t)
       CROSS JOIN big
       GROUP BY st.source, tot.n_s""",
)
def source_unigram_kl(spark, sf_dir):
    """Domain-shift audit: KL(source ‖ corpus) over the unigram token
    distribution, per source — the drift report run before adjusting
    mixture weights (a rising KL means a source's language is moving
    away from the blend the model was tuned on). One corpus-sized
    explode shuffles ONCE to (source, token) grain with map-side
    combine; the corpus marginal is a re-aggregate of that vocab-sized
    table (never a second corpus pass), the global total is a
    broadcast scalar, and the KL sum is a vocab-sized aggregate. Terms
    exist only where the source count is positive, so every log is
    finite by construction."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    tok = docs.select(
        "source", F.explode(textfns.tokens("text")).alias("t")
    )
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corp = st.groupBy("t").agg(F.sum("c").alias("c_all"))
    big = st.agg(F.sum("c").alias("n_all"))
    p = F.col("c").cast("double") / F.col("n_s")
    qd = F.col("c_all").cast("double") / F.col("n_all")
    return (
        st.join(F.broadcast(tot), "source")
        .join(F.broadcast(corp), "t")
        .crossJoin(F.broadcast(big))
        .groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).cast("int").alias("vocab_used"),
            F.round(F.sum(p * F.log(p / qd)), 6).alias("kl_nats"),
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            "vocab_used",
            "kl_nats",
        )
    )


@q(
    "embedding_int8_quantization",
    """WITH elems AS (
         SELECT label,
                generate_subscripts(embedding, 1) AS pos,
                CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
       stats AS (
         SELECT pos, MIN(x) AS mn, MAX(x) AS mx
         FROM elems GROUP BY 1),
       scored AS (
         SELECT e.label, e.pos, e.x,
                CASE WHEN s.mx = s.mn THEN e.x
                     ELSE s.mn + FLOOR((e.x - s.mn)
                                       / ((s.mx - s.mn) / 255.0) + 0.5)
                          * ((s.mx - s.mn) / 255.0)
                END AS xq
         FROM elems e JOIN stats s USING (pos))
       SELECT label,
              CAST(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_vecs,
              ROUND(AVG((x - xq) * (x - xq)), 10) AS mse,
              ROUND(MAX(ABS(x - xq)), 9) AS max_abs_err,
              ROUND(10.0 * log10(AVG(x * x) / AVG((x - xq) * (x - xq))), 4)
                AS snr_db
       FROM scored GROUP BY 1""",
)
def embedding_int8_quantization(spark, sf_dir):
    """Serving-side compression audit: quantize every embedding to
    int8 with per-dimension min/max affine codes (the standard ANN
    index memory reduction) and report the damage per label — mean
    squared reconstruction error, worst per-element error, and SNR.
    The per-dim codebook is a 64-row aggregate (broadcast back);
    quantization is elementwise arithmetic; both engines round codes
    via FLOOR(z + 0.5) — written identically so no half-even/half-up
    library difference can flip a code. Two scans of the corpus
    (codebook, then score) — the same unavoidable topology as any
    standardize pass; nothing corpus-sized shuffles more than the
    (label, pos) aggregate grain."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select("label", "pos", F.col("xf").cast("double").alias("x"))
    stats = elems.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    xq = F.when(F.col("mx") == F.col("mn"), F.col("x")).otherwise(
        F.col("mn")
        + F.floor((F.col("x") - F.col("mn")) / scale + F.lit(0.5)) * scale
    )
    scored = elems.join(F.broadcast(stats), "pos").select(
        "label", "pos", "x", xq.alias("xq")
    )
    err2 = F.avg((F.col("x") - F.col("xq")) * (F.col("x") - F.col("xq")))
    return scored.groupBy("label").agg(
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_vecs"),
        F.round(err2, 10).alias("mse"),
        F.round(F.max(F.abs(F.col("x") - F.col("xq"))), 9).alias(
            "max_abs_err"
        ),
        F.round(
            F.lit(10.0) * F.log10(F.avg(F.col("x") * F.col("x")) / err2), 4
        ).alias("snr_db"),
    )


def _ann_recall_oracle() -> str:
    """Composed from the four ANN oracles verbatim (each is a
    self-contained WITH..SELECT; wrapping keeps their CTE scopes
    separate), so this audit can never drift from the per-method
    correctness definitions.  Every constituent is a MATERIALIZED
    CTE: DuckDB inlines plain CTEs per reference, so the 6 references
    to the brute baseline re-ran the full exact scan 6x and pushed
    the composed oracle past the sf1 sim's 900 s budget even though
    each constituent fits individually (VERDICT r9 ask #4) — forced
    materialization makes the composed cost the SUM of the four
    method oracles, same as the engine side's localCheckpoint."""
    brute = ORACLES["ann_brute_force_topk"]
    ctes = [f"brute_pairs AS MATERIALIZED (SELECT qid, vec_id FROM ({brute}) t)"]
    parts = []
    for name, key in (
        ("ivf", "ann_ivf_topk"),
        ("lsh", "ann_lsh_topk"),
        ("pq", "ann_pq_topk"),
    ):
        ctes.append(
            f"m_{name} AS MATERIALIZED "
            f"(SELECT qid, vec_id FROM ({ORACLES[key]}) x)"
        )
        parts.append(
            f"""SELECT '{name}' AS method,
              CAST((SELECT COUNT(*) FROM brute_pairs) AS BIGINT) AS n_base,
              CAST(COUNT(*) AS BIGINT) AS n_matched,
              CAST(ROUND(COUNT(*) * 1.0
                   / (SELECT COUNT(*) FROM brute_pairs), 4) AS DOUBLE)
                AS recall
       FROM m_{name} a
       JOIN brute_pairs b USING (qid, vec_id)"""
        )
    u = "\n       UNION ALL\n       ".join(parts)
    return "WITH " + ",\n       ".join(ctes) + f"\n       {u}"


@q("ann_recall_audit", _ann_recall_oracle())
def ann_recall_audit(spark, sf_dir):
    """Recall@5 of every approximate-nearest-neighbor path against
    the exact brute-force baseline, in ONE audit: for each method
    (IVF cell probe, hyperplane-LSH bucket probe, product-quantized
    ADC scan) the fraction of the true top-5 pairs it returned. This
    is the quality dial a 100 TB deployment tunes (probe count /
    band count / codebook size vs recall); the exact scan stays a
    test-side yardstick — production traffic runs the bucketed
    paths, which shuffle on cell/band keys instead of all-pairs.
    The oracle composes the four methods' own DuckDB definitions
    verbatim, so a recall mismatch isolates to the intersection
    logic, never a drifted method."""
    # the exact baseline is shared by all three comparisons: compute
    # its (qid, vec_id) top-5 pairs ONCE and pin them with an eager
    # localCheckpoint — without it the lazy plan re-runs the full
    # brute-force scan per method join AND per n_base aggregate
    # (6x the most expensive pipeline in the audit)
    brute = (
        QUERIES["ann_brute_force_topk"](spark, sf_dir)
        .select("qid", "vec_id")
        .localCheckpoint(eager=True)
    )
    n_base = brute.agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    rows = None
    for name, key in (
        ("ivf", "ann_ivf_topk"),
        ("lsh", "ann_lsh_topk"),
        ("pq", "ann_pq_topk"),
    ):
        approx = QUERIES[key](spark, sf_dir).select("qid", "vec_id")
        matched = approx.join(brute, ["qid", "vec_id"])
        agg = matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched")
        ).crossJoin(n_base).select(
            F.lit(name).alias("method"),
            "n_base",
            "n_matched",
            F.round(
                F.col("n_matched").cast("double") / F.col("n_base"), 4
            ).alias("recall"),
        )
        rows = agg if rows is None else rows.unionByName(agg)
    return rows


@q(
    "minhash_band_sensitivity",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh
               FROM tok),
       sh AS (SELECT * FROM sh0 WHERE sh <> ''),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        COUNT(*) AS n_inter
                 FROM sh a JOIN sh b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       jac AS (
         SELECT ROUND(n_inter
                / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 4) AS j
         FROM inter
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE)
               >= 0.05),
       banded AS (
         SELECT CAST(LEAST(FLOOR(j * 10), 9) AS INT) AS j_band,
                COUNT(*) AS n_pairs, ROUND(AVG(j), 4) AS mean_j
         FROM jac GROUP BY 1),
       configs AS (
         SELECT UNNEST([8, 4, 2]) AS b, UNNEST([2, 4, 8]) AS r)
       SELECT c.b AS n_bands, c.r AS rows_per_band,
              ROUND(POW(1.0 / c.b, 1.0 / c.r), 4) AS s_threshold,
              bd.j_band, CAST(bd.n_pairs AS BIGINT) AS n_pairs,
              bd.mean_j,
              ROUND(1 - POW(1 - POW(bd.mean_j, c.r), c.b), 4)
                AS capture_prob
       FROM banded bd CROSS JOIN configs c""",
)
def minhash_band_sensitivity(spark, sf_dir):
    """LSH band-configuration planning over the OBSERVED similarity
    distribution: the exact 3-gram Jaccard of every candidate pair
    (same inverted-index join as ngram_jaccard_pairs, threshold
    0.05, over the injected-near-dup corpus), bucketed into Jaccard
    decile bands, crossed with three 16-hash band layouts (b x r =
    8x2 / 4x4 / 2x8). Per (config, band): the s-curve capture
    probability 1-(1-s^r)^b at the band's mean similarity and the
    config's threshold (1/b)^(1/r) — the table a pipeline owner reads
    to pick the layout whose knee sits at their dedup threshold
    (more bands = recall at low s, more rows = precision). The config
    grid is a 3-row constant cross join (sanctioned scalar-BNLJ);
    the pair census is the equi-join, never all-pairs."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.05
    )
    banded = (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
            .cast("int")
            .alias("j_band"),
            "jaccard",
        )
        .groupBy("j_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("mean_j"),
        )
    )
    configs = spark.createDataFrame(
        [(8, 2), (4, 4), (2, 8)], "b int, r int"
    )
    return banded.crossJoin(F.broadcast(configs)).select(
        F.col("b").alias("n_bands"),
        F.col("r").alias("rows_per_band"),
        F.round(
            F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 4
        ).alias("s_threshold"),
        "j_band",
        "n_pairs",
        "mean_j",
        F.round(
            1
            - F.pow(
                1 - F.pow(F.col("mean_j"), F.col("r")), F.col("b")
            ),
            4,
        ).alias("capture_prob"),
    )


@q(
    "embedding_pca_power_iteration",
    """WITH RECURSIVE elems AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
       n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
             FROM elems),
       mu AS (SELECT i, ROUND(AVG(x), 8) AS m FROM elems GROUP BY 1),
       m2 AS (SELECT a.i AS i, b.i AS j, ROUND(AVG(a.x * b.x), 8) AS v
              FROM elems a JOIN elems b ON a.vec_id = b.vec_id
              GROUP BY 1, 2),
       cov AS (SELECT m2.i, m2.j,
                      ROUND(m2.v - ma.m * mb.m, 8) AS c
               FROM m2 JOIN mu ma ON m2.i = ma.i
                       JOIN mu mb ON m2.j = mb.i),
       rows_ AS (SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY 1),
       cm AS (SELECT list(r ORDER BY i) AS m FROM rows_),
       it AS (
         SELECT 0 AS t, m,
                list_transform(range(1, 65),
                               k -> CAST(0.125 AS DOUBLE)) AS v
         FROM cm
         UNION ALL
         SELECT t + 1, m,
                list_transform(
                  list_transform(m, r -> ROUND(list_reduce(
                    list_transform(range(1, 65), k -> r[k] * v[k]),
                    (a, b) -> a + b), 8)),
                  w -> ROUND(w / ROUND(SQRT(list_reduce(
                    list_transform(
                      list_transform(m, r2 -> ROUND(list_reduce(
                        list_transform(range(1, 65), k -> r2[k] * v[k]),
                        (a, b) -> a + b), 8)),
                      y -> y * y),
                    (a, b) -> a + b)), 8), 8))
         FROM it WHERE t < 8),
       fin AS (SELECT m, v FROM it WHERE t = 8),
       lam AS (
         SELECT m, v,
                ROUND(list_reduce(
                  list_transform(range(1, 65),
                    i -> v[i] * ROUND(list_reduce(
                      list_transform(range(1, 65), k -> m[i][k] * v[k]),
                      (a, b) -> a + b), 8)),
                  (a, b) -> a + b), 6) AS eigenvalue,
                ROUND(list_reduce(
                  list_transform(range(1, 65), k -> m[k][k]),
                  (a, b) -> a + b), 6) AS trace
         FROM fin)
       SELECT n.n AS n_vectors, CAST(64 AS INT) AS dim,
              eigenvalue, trace,
              ROUND(eigenvalue / trace, 6) AS explained_share,
              ROUND(v[1], 6) AS v1, ROUND(v[2], 6) AS v2,
              ROUND(v[3], 6) AS v3, ROUND(v[4], 6) AS v4
       FROM lam CROSS JOIN n""",
)
def embedding_pca_power_iteration(spark, sf_dir):
    """Top principal component of the embedding cloud by POWER
    ITERATION — the decorrelation/variance-structure probe a curation
    pipeline runs before whitening or energy-based filtering. The
    covariance matrix is computed DISTRIBUTED (element self-join on
    vec_id → (i, j) partial products, a 64x fan-out the combiner
    absorbs; the shuffled payload is the 64x64 moment table, never
    the corpus), then 8 matvec+normalize steps run as PURE COLUMN
    EXPRESSIONS over the one-row matrix — no driver collect at all.
    Determinism: covariance entries, every matvec component, and the
    norm are rounded at each step, and every dot product is the SAME
    left-fold sequence in both engines (aggregate() here, list_reduce
    in DuckDB) — an unordered SUM would diverge in the last bits and
    compound through the iteration. Init = uniform 1/8 vector (64
    dims), fixed: no randomness, no sign ambiguity. Output: leading
    eigenvalue, trace, explained-variance share, first 4 eigenvector
    components. At 100 TB: one corpus scan + d^2 shuffle; the
    iteration cost is independent of row count."""
    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    elems = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    n = elems.agg(
        F.count_distinct("vec_id").cast("long").alias("n")
    )
    mu = elems.groupBy("i").agg(F.round(F.avg("x"), 8).alias("m"))
    a = elems.alias("a")
    b = elems.select(
        F.col("vec_id").alias("bv"),
        F.col("i").alias("j"),
        F.col("x").alias("y"),
    )
    m2 = (
        a.join(b, F.col("a.vec_id") == F.col("bv"))
        .groupBy("i", "j")
        .agg(F.round(F.avg(F.col("x") * F.col("y")), 8).alias("v"))
    )
    cov = (
        m2.join(mu.select(F.col("i"), F.col("m").alias("ma")), "i")
        .join(
            mu.select(F.col("i").alias("j"), F.col("m").alias("mb")), "j"
        )
        .select(
            "i", "j", F.round(F.col("v") - F.col("ma") * F.col("mb"), 8).alias("c")
        )
    )
    rows_ = cov.groupBy("i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))),
            lambda s: s["c"],
        ).alias("r")
    )
    cm = rows_.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "r"))),
            lambda s: s["r"],
        ).alias("m")
    )

    def fold_sum(products):
        # identical left-fold sequence to DuckDB's list_reduce
        return F.aggregate(
            F.slice(products, 2, F.greatest(F.size(products) - 1, F.lit(0))),
            F.element_at(products, 1),
            lambda acc, x: acc + x,
        )

    def matvec(m, v):
        return F.transform(
            m, lambda r: F.round(fold_sum(F.zip_with(r, v, lambda p, q: p * q)), 8)
        )

    df = cm.withColumn(
        "v",
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda k: F.lit(0.125)),
    )
    for _ in range(8):
        df = df.withColumn("w", matvec(F.col("m"), F.col("v")))
        df = df.withColumn(
            "nrm",
            F.round(
                F.sqrt(
                    fold_sum(F.transform(F.col("w"), lambda y: y * y))
                ),
                8,
            ),
        )
        df = df.withColumn(
            "v", F.transform(F.col("w"), lambda y: F.round(y / F.col("nrm"), 8))
        ).drop("w", "nrm")
    eig = F.round(
        fold_sum(
            F.zip_with(
                F.col("v"),
                matvec(F.col("m"), F.col("v")),
                lambda p, q: p * q,
            )
        ),
        6,
    )
    trace = F.round(
        fold_sum(
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda k: F.element_at(F.element_at(F.col("m"), k), k),
            )
        ),
        6,
    )
    out = df.select(
        eig.alias("eigenvalue"),
        trace.alias("trace"),
        F.round(eig / trace, 6).alias("explained_share"),
        F.round(F.element_at("v", 1), 6).alias("v1"),
        F.round(F.element_at("v", 2), 6).alias("v2"),
        F.round(F.element_at("v", 3), 6).alias("v3"),
        F.round(F.element_at("v", 4), 6).alias("v4"),
    )
    return out.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_vectors"),
        F.lit(64).cast("int").alias("dim"),
        "eigenvalue",
        "trace",
        "explained_share",
        "v1",
        "v2",
        "v3",
        "v4",
    )


@q(
    "packing_efficiency_audit",
    f"""WITH t AS (
         SELECT doc_id, doc_id % 8 AS shard,
                LEAST(CAST(len({_TOKS_SQL}) AS BIGINT), 512) AS n_tok
         FROM documents
         WHERE len({_TOKS_SQL}) > 0),
       shards AS (
         SELECT shard,
                list_prepend(CAST(0 AS BIGINT),
                             list(n_tok ORDER BY doc_id)) AS arrival,
                list_prepend(CAST(0 AS BIGINT),
                             list(n_tok ORDER BY n_tok DESC, doc_id))
                  AS bysize,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS total_tok
         FROM t GROUP BY 1),
       packed AS (
         SELECT shard, n_docs, total_tok,
                list_reduce(arrival, (acc, x) -> CASE
                  WHEN x <= acc % 1024 THEN acc - x
                  ELSE (acc // 1024 + 1) * 1024 + 512 - x END) // 1024
                  AS bins_arrival,
                list_reduce(bysize, (acc, x) -> CASE
                  WHEN x <= acc % 1024 THEN acc - x
                  ELSE (acc // 1024 + 1) * 1024 + 512 - x END) // 1024
                  AS bins_sorted
         FROM shards)
       SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
              CAST(SUM(total_tok) AS BIGINT) AS total_tokens,
              CAST(SUM(CAST(CEIL(total_tok / 512.0) AS BIGINT)) AS BIGINT)
                AS lower_bound_bins,
              CAST(SUM(bins_arrival) AS BIGINT) AS bins_arrival,
              CAST(SUM(bins_sorted) AS BIGINT) AS bins_sorted,
              ROUND(SUM(total_tok)
                    / CAST(SUM(bins_arrival) * 512 AS DOUBLE), 4)
                AS fill_arrival,
              ROUND(SUM(total_tok)
                    / CAST(SUM(bins_sorted) * 512 AS DOUBLE), 4)
                AS fill_sorted
       FROM packed""",
)
def packing_efficiency_audit(spark, sf_dir):
    """Sequence-packing economics: how many 512-token training bins
    the corpus needs under NEXT-FIT packing in arrival order vs
    length-sorted order, against the ceil(tokens/512) lower bound —
    the padding-waste number that decides whether a pipeline pays for
    the sort before packing. Docs hash into 8 shards (the realistic
    distributed packer: each shard packs independently, so the fold
    is per-shard-bounded, not corpus-sequential); the greedy fold
    runs over the shard's length array with the state ENCODED AS ONE
    INTEGER (bins*1024 + remaining, capacity 512 < 1024) so both
    engines fold identical integer arithmetic — no struct-state
    lambda portability risk, no floats at all until the final fill
    ratios. Lengths cap at 512 (a doc longer than the bin is
    truncated into it)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    t = (
        docs.select(
            "doc_id", F.size(textfns.tokens("text")).alias("nt")
        )
        .filter(F.col("nt") > 0)
        .select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
            F.least(F.col("nt").cast("long"), F.lit(512)).alias("n_tok"),
        )
    )
    shards = t.groupBy("shard").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "n_tok"))),
            lambda s: s["n_tok"],
        ).alias("arrival"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n_tok")).alias("neg"),
                        F.col("doc_id").alias("doc_id"),
                        F.col("n_tok").alias("n_tok"),
                    )
                )
            ),
            lambda s: s["n_tok"],
        ).alias("bysize"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tok"),
    )

    def pack(arr):
        return (
            F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, x: F.when(x <= acc % 1024, acc - x).otherwise(
                    (F.floor(acc / 1024) + 1) * 1024 + 512 - x
                ),
            )
            / 1024
        )

    packed = shards.select(
        "shard",
        "n_docs",
        "total_tok",
        F.floor(pack(F.col("arrival"))).alias("bins_arrival"),
        F.floor(pack(F.col("bysize"))).alias("bins_sorted"),
    )
    return packed.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tok").cast("long").alias("total_tokens"),
        F.sum(F.ceil(F.col("total_tok") / 512.0))
        .cast("long")
        .alias("lower_bound_bins"),
        F.sum("bins_arrival").cast("long").alias("bins_arrival"),
        F.sum("bins_sorted").cast("long").alias("bins_sorted"),
        F.round(
            F.sum("total_tok")
            / (F.sum("bins_arrival") * 512).cast("double"),
            4,
        ).alias("fill_arrival"),
        F.round(
            F.sum("total_tok")
            / (F.sum("bins_sorted") * 512).cast("double"),
            4,
        ).alias("fill_sorted"),
    )


@q(
    "neardup_recall_audit",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh
               FROM tok),
       sh AS (SELECT * FROM sh0 WHERE sh <> ''),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        COUNT(*) AS n_inter
                 FROM sh a JOIN sh b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       truth AS (
         SELECT doc_a, doc_b
         FROM inter
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE)
               >= 0.5),
       shf AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
               FROM sh),
       seeds AS (SELECT unnest(range(0, {_MINHASH_K})) AS seed),
       sigs AS (SELECT doc_id, seed,
                       MIN(((62675 * (seed + 1) + 1) * h
                            + (12345 + 7919 * seed))
                           % {dedup.MINHASH_PRIME}) AS mh
                FROM shf, seeds GROUP BY 1, 2),
       bands AS (SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                        string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)
                          AS band_key
                 FROM sigs GROUP BY 1, 2),
       cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id),
       hits AS (SELECT c.doc_a FROM cands c
                JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
       SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM cands)
                AS n_candidates,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
              ROUND((SELECT COUNT(*) FROM hits)
                    / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 4)
                AS recall,
              ROUND((SELECT COUNT(*) FROM hits)
                    / CAST((SELECT COUNT(*) FROM cands) AS DOUBLE), 4)
                AS precision""",
)
def neardup_recall_audit(spark, sf_dir):
    """End-to-end quality audit of the MinHash+LSH dedup path: the
    LSH candidate set (16 hashes, 8 bands x 2 rows — the production
    pipeline's non-quadratic stage) scored against the EXACT 3-gram
    Jaccard >= 0.5 ground truth from the inverted-index join, emitting
    recall (what fraction of true near-dups the bands surfaced) and
    precision (how much of the candidate budget was real). The dedup
    twin of ann_recall_audit: it composes two independently-oracled
    pipelines, so a silent regression in the minhash seeds, banding,
    or shingling shows up as a recall drop the driver hash-checks.
    Both sides are equi-joins; the ground-truth side is
    test-scale-only scaffolding (production trusts the s-curve +
    verify-join)."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5
    ).select("doc_a", "doc_b")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3
    )
    bands = dedup.lsh_band_keys(sigs, "doc_id", rows_per_band=2)
    cands = dedup.lsh_candidate_pairs(bands, "doc_id").select(
        "doc_a", "doc_b"
    ).distinct()
    hits = cands.join(truth, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("n_truth").cast("double"), 4
            ).alias("recall"),
            F.round(
                F.col("n_hits") / F.col("n_candidates").cast("double"), 4
            ).alias("precision"),
        )
    )


@q(
    "shingle_containment_neardup",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh
              FROM tok),
       shc AS (SELECT doc_id, COUNT(*) AS n_sh
               FROM sh WHERE sh <> '' GROUP BY 1),
       cand AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                COUNT(*) AS n_shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         WHERE a.sh <> '' GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       scored AS (
         SELECT c.doc_a, c.doc_b,
                ROUND(CAST(c.n_shared AS DOUBLE)
                      / (ca.n_sh + cb.n_sh - c.n_shared), 4) AS jaccard,
                ROUND(CAST(c.n_shared AS DOUBLE)
                      / LEAST(ca.n_sh, cb.n_sh), 4) AS containment
         FROM cand c JOIN shc ca ON c.doc_a = ca.doc_id
                     JOIN shc cb ON c.doc_b = cb.doc_id)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
              CAST(SUM(CASE WHEN containment >= 0.95 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_contained_95,
              CAST(SUM(CASE WHEN containment >= 0.95 AND jaccard < 0.85
                            THEN 1 ELSE 0 END) AS BIGINT)
                AS n_asymmetric_dups,
              ROUND(AVG(containment), 4) AS mean_containment,
              ROUND(AVG(jaccard), 4) AS mean_jaccard
       FROM scored""",
)
def shingle_containment_neardup(spark, sf_dir):
    """CONTAINMENT-based near-dup detection — |A∩B|/min(|A|,|B|)
    beside symmetric Jaccard: a document embedded inside a longer one
    (quotes, prefix truncations, boilerplate wrappers) has
    containment ≈ 1 while Jaccard sinks with the length gap, so a
    Jaccard-threshold dedup silently keeps both. The injected
    80 %-prefix corpus makes this measurable: n_asymmetric_dups
    counts pairs a containment rule catches and a 0.85-Jaccard rule
    misses. Candidates come from the shared-shingle inverted-index
    equi-join (≥5 shared shingles — pigeonhole-bounded, never
    all-pairs); set sizes join back from a distinct-shingle count."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    tokd = docs.select("doc_id", textfns.tokens("text").alias("__toks"))
    sh = tokd.select(
        "doc_id",
        F.explode(
            F.array_distinct(textfns.shingles(F.col("__toks"), 3))
        ).alias("sh"),
    ).filter(F.col("sh") != "")
    shc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    cand = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    scored = (
        cand.join(
            shc.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "doc_a",
        )
        .join(
            shc.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "doc_b",
        )
        .select(
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least("na", "nb"),
                4,
            ).alias("containment"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum((F.col("containment") >= 0.95).cast("int"))
        .cast("long")
        .alias("n_contained_95"),
        F.sum(
            ((F.col("containment") >= 0.95) & (F.col("jaccard") < 0.85))
            .cast("int")
        )
        .cast("long")
        .alias("n_asymmetric_dups"),
        F.round(F.avg("containment"), 4).alias("mean_containment"),
        F.round(F.avg("jaccard"), 4).alias("mean_jaccard"),
    )


@q(
    "lsh_candidate_cost_curve",
    f"""WITH {_NEARDUP_CORPUS_SQL.strip()},
       tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
       sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM tok),
       shf AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
               FROM sh WHERE sh <> ''),
       seeds AS (SELECT unnest(range(0, {_MINHASH_K})) AS seed),
       sigs AS (SELECT doc_id, seed,
                       MIN(((62675 * (seed + 1) + 1) * h + (12345 + 7919 * seed))
                           % {2147483647}) AS mh
                FROM shf, seeds GROUP BY 1, 2),
       cfg AS (SELECT unnest([2, 4, 8]) AS r),
       bands AS (
         SELECT c.r, s.doc_id, CAST(floor(s.seed / c.r) AS INT) AS band,
                string_agg(CAST(s.mh AS VARCHAR), '|' ORDER BY s.seed)
                  AS band_key
         FROM sigs s CROSS JOIN cfg c GROUP BY 1, 2, 3),
       buckets AS (
         SELECT r, band, band_key, COUNT(*) AS n_docs
         FROM bands GROUP BY 1, 2, 3),
       cost AS (
         SELECT r,
                CAST(COUNT(*) AS BIGINT) AS n_buckets,
                CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_colliding_buckets,
                CAST(SUM(n_docs * (n_docs - 1) / 2) AS BIGINT)
                  AS n_candidate_probes
         FROM buckets GROUP BY 1),
       nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM sigs)
       SELECT CAST({_MINHASH_K} / r AS INT) AS n_bands,
              CAST(r AS INT) AS rows_per_band,
              ROUND(POW(1.0 / ({_MINHASH_K} / r), 1.0 / r), 4)
                AS s_threshold,
              n_buckets, n_colliding_buckets, n_candidate_probes,
              ROUND(CAST(n_candidate_probes AS DOUBLE) / nd.n_docs, 4)
                AS probes_per_doc
       FROM cost CROSS JOIN nd ORDER BY rows_per_band""",
)
def lsh_candidate_cost_curve(spark, sf_dir):
    """The COST side of LSH band planning (minhash_band_sensitivity
    measures the RECALL side): for each band layout (8×2 / 4×4 / 2×8
    over the 16-hash signatures), the number of candidate probes the
    bucket join would generate — Σ C(bucket_size, 2) computed from
    bucket COUNTS, without materializing a single pair. probes/doc
    is the number a pipeline owner multiplies by corpus size to
    price a layout at 100 TB; more bands buy recall at exactly this
    measured candidate-generation cost. Same signature algebra as
    the production path (operators/dedup.py), so the curve prices
    the real pipeline."""
    docs = _neardup_corpus(load_table(spark, sf_dir, "documents", fanout=True))
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", k=_MINHASH_K, shingle_n=3
    )
    cfg = spark.createDataFrame([(2,), (4,), (8,)], "r int")
    bands = (
        sigs.crossJoin(F.broadcast(cfg))
        .withColumn("band", F.floor(F.col("seed") / F.col("r")).cast("int"))
        .groupBy("r", "doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
                "|",
            ).alias("band_key")
        )
    )
    buckets = bands.groupBy("r", "band", "band_key").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    cost = buckets.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("n_docs") > 1).cast("int"))
        .cast("long")
        .alias("n_colliding_buckets"),
        F.sum(F.col("n_docs") * (F.col("n_docs") - 1) / 2)
        .cast("long")
        .alias("n_candidate_probes"),
    )
    nd = sigs.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    return (
        cost.crossJoin(F.broadcast(nd))
        .select(
            (F.lit(_MINHASH_K) / F.col("r")).cast("int").alias("n_bands"),
            F.col("r").cast("int").alias("rows_per_band"),
            F.round(
                F.pow(
                    1.0 / (F.lit(_MINHASH_K) / F.col("r")), 1.0 / F.col("r")
                ),
                4,
            ).alias("s_threshold"),
            "n_buckets",
            "n_colliding_buckets",
            "n_candidate_probes",
            F.round(
                F.col("n_candidate_probes").cast("double") / F.col("n_docs"),
                4,
            ).alias("probes_per_doc"),
        )
        .orderBy("rows_per_band")
    )


_L_SPAN = 50  # ExactSubstr minimum span length (Lee et al. 2022)

# The fixture docs are 10-99 tokens of a small random vocabulary, so
# genuine >=50-token repeats cannot occur naturally; the query SEEDS
# them deterministically (same construction in both engines) and the
# span extractor must recover exactly the seeded geometry:
#   * prefix copies — every doc with doc_id % 4 = 0 and >= 63 tokens
#     gets a twin holding its first (50 + doc_id % 13) tokens: one
#     maximal span of that exact length in BOTH docs;
#   * tail stitches — every doc with doc_id % 8 = 2 and >= 52 tokens
#     gets a twin of its last 52 tokens repeated twice around a
#     sentinel token: a 52-token span in the original and TWO in the
#     twin (a within-doc duplicate, which ExactSubstr counts).
_SPAN_CORPUS_SQL = f"""
  tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
  base AS (SELECT doc_id, toks, len(toks) AS n FROM tok),
  corpus AS (
    SELECT doc_id, toks FROM base
    UNION ALL
    SELECT doc_id + 1000000, toks[1:50 + doc_id % 13]
    FROM base WHERE doc_id % 4 = 0 AND n >= 63
    UNION ALL
    SELECT doc_id + 2000000,
           toks[n-51:n] || ['qzgap'] || toks[n-51:n]
    FROM base WHERE doc_id % 8 = 2 AND n >= 52)"""


@q(
    "exact_substring_span_dedup",
    f"""WITH {_SPAN_CORPUS_SQL},
       grams AS (
         SELECT doc_id, UNNEST(gl) AS h,
                GENERATE_SUBSCRIPTS(gl, 1) - 1 AS pos
         FROM (SELECT doc_id,
                      list_transform(
                        range(1, greatest(len(toks) - {_L_SPAN - 1}, 0) + 1),
                        i -> md5(array_to_string(toks[i:i+{_L_SPAN - 1}], ' '))
                      ) AS gl
               FROM corpus)),
       dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
       starts AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
       runs AS (SELECT doc_id, pos,
                       pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS r
                FROM starts),
       spans AS (SELECT doc_id,
                        MAX(pos) - MIN(pos) + {_L_SPAN} AS span_len
                 FROM runs GROUP BY doc_id, r)
       SELECT CAST(span_len AS BIGINT) AS span_len,
              CAST(COUNT(*) AS BIGINT) AS n_spans,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM spans GROUP BY 1 ORDER BY 1""",
)
def exact_substring_span_dedup(spark, sf_dir):
    """True exact-substring dedup (VERDICT r8 ask #5): maximal
    duplicate token spans >= 50 via operators/dedup.
    exact_substring_spans (sorted-shingle run-merge — see the operator
    docstring for the Lee-et-al semantics and the 100 TB shape),
    driven over a deterministically SEEDED corpus (the fixture docs
    are too short and too random to repeat 50-grams naturally) and
    reported as a span-length histogram the oracle recomputes from
    the same construction."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    base = docs.select(
        "doc_id", textfns.tokens("text").alias("toks")
    ).withColumn("n", F.size("toks"))
    k = (F.lit(50) + F.col("doc_id") % 13).cast("int")
    prefix = base.filter(
        (F.col("doc_id") % 4 == 0) & (F.col("n") >= 63)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.slice("toks", F.lit(1), k).alias("toks"),
    )
    tail = F.slice("toks", F.col("n") - 51, F.lit(52))
    stitched = base.filter(
        (F.col("doc_id") % 8 == 2) & (F.col("n") >= 52)
    ).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(tail, F.array(F.lit("qzgap")), tail).alias("toks"),
    )
    corpus = base.select("doc_id", "toks").unionAll(prefix).unionAll(stitched)
    spans = dedup.exact_substring_spans(
        corpus, id_col="doc_id", tokens_col="toks", min_tokens=_L_SPAN
    )
    return (
        spans.groupBy("span_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("span_len")
    )
