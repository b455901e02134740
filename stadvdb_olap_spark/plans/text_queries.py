"""Text-analysis & document-dedup catalog queries over ``documents``.

The training-data-pipeline surface: token counting, quality scoring,
language ID, fingerprinting, exact dedup, MinHash+LSH near-dup pairs with
Jaccard verification, and SimHash — every one oracle-checked against
DuckDB computing the identical (md5-based, order-pinned) definitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stadvdb_olap_spark.functions import text as T
from stadvdb_olap_spark.operators import text_dedup as TD
from stadvdb_olap_spark.plans.catalog import query
from stadvdb_olap_spark.sources.parquet import load_spread, load_table, spread

STOPWORDS = ("the", "a")

# Invented profiles over the fixture vocabulary — the heuristic is what is
# being tested (deterministic argmax), not real-world language ID.
LANG_PROFILES = {
    "en": ("the", "a", "fast", "slow", "small", "big"),
    "db": ("table", "scan", "join", "merge", "hash", "query", "row", "column"),
    "st": ("stream", "window", "batch", "spark", "agg"),
}

_NUM_HASHES = 16  # one sha256 digest group (see text_dedup.minhash_signatures)
_BAND_SIZE = 2
_SHINGLE_N = 3
_JACCARD_T = 0.2


def _shingled_sql() -> str:
    return (
        f"SELECT doc_id, {T.word_shingles_sql('text', _SHINGLE_N)} AS sh FROM documents"
    )


def _sigs_sql(num_hashes: int = _NUM_HASHES) -> str:
    # One-permutation minhash, salted sha256 digest groups past 16 hashes —
    # the DuckDB twin of operators/text_dedup.py:minhash_signatures.
    n_groups = -(-num_hashes // 16)
    dg_cols = ", ".join(
        (
            "list_transform(sh, s -> sha256(s))"
            if g == 0
            else f"list_transform(sh, s -> sha256(s || '#{g}'))"
        )
        + f" AS dg{g}"
        for g in range(n_groups)
    )
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(dg{k // 16}, "
        f"d -> d[{4 * (k % 16) + 1}:{4 * (k % 16) + 4}]), 'min') AS mh{k}"
        for k in range(num_hashes)
    )
    return (
        f"SELECT doc_id, {mh_cols} FROM "
        f"(SELECT doc_id, {dg_cols} FROM ({_shingled_sql()}))"
    )


def _bands_sql(num_hashes: int = _NUM_HASHES, band_size: int = _BAND_SIZE) -> str:
    n_bands = num_hashes // band_size
    parts = []
    for b in range(n_bands):
        cols = " || '|' || ".join(f"mh{b * band_size + j}" for j in range(band_size))
        parts.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sigs"
        )
    return " UNION ALL ".join(parts)


@query(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
       {T.token_count_sql('text')}          AS n_tokens,
       {T.bpe_ish_token_count_sql('text')}  AS n_bpe_tokens
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation —
    the budget metric for LLM corpus curation."""
    docs = load_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


@query(
    "text_quality_scores",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {T.tokens_sql('text')} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT)    AS n_tokens,
       CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks)              AS mean_word_len,
       CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
           / length(text)           AS punct_ratio,
       CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE)
           / len(toks)              AS stopword_ratio
FROM t
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals (length / punctuation / stopword ratios) —
    the filter stage of a pretraining data pipeline."""
    docs = load_spread(spark, sf_dir, "documents")
    stats = T.quality_stats("text", STOPWORDS)
    return docs.select(
        "doc_id",
        stats["n_chars"].alias("n_chars"),
        stats["n_tokens"].alias("n_tokens"),
        stats["mean_word_len"].alias("mean_word_len"),
        stats["punct_ratio"].alias("punct_ratio"),
        stats["stopword_ratio"].alias("stopword_ratio"),
    )


# Pinned linear quality-classifier weights — the published-model form of
# the FastText-style quality filter every pretraining pipeline runs.
# Score = w · features, kept LINEAR (no sigmoid: exp is not correctly
# rounded cross-engine; the sigmoid is monotone, so thresholding the
# logit IS thresholding the probability). Literals enter both engines as
# decimal strings; every feature is an already-certified IEEE double
# (text_quality_scores), and the fold order is pinned left-to-right.
from stadvdb_olap_spark.functions.screens import (  # noqa: E402  # isort: skip
    QUALITY_KEEP_LOGIT as _Q_KEEP,
    QUALITY_WEIGHTS as _QW,
)


@query(
    "quality_logit_filter_docs",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {T.tokens_sql('text')} AS toks FROM documents),
f AS (
    SELECT doc_id,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                AS DOUBLE) / len(toks) AS mean_word_len,
           CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x)))
                AS DOUBLE) / len(toks) AS stopword_ratio,
           CAST(least(len(toks), 500) AS DOUBLE) AS len_capped
    FROM t
)
SELECT doc_id,
       {_QW['bias']!r} + {_QW['stopword_ratio']!r} * stopword_ratio
                       + {_QW['mean_word_len']!r} * mean_word_len
                       + {_QW['punct_ratio']!r} * punct_ratio
                       + {_QW['len_capped']!r} * len_capped AS logit,
       ({_QW['bias']!r} + {_QW['stopword_ratio']!r} * stopword_ratio
                        + {_QW['mean_word_len']!r} * mean_word_len
                        + {_QW['punct_ratio']!r} * punct_ratio
                        + {_QW['len_capped']!r} * len_capped)
           >= {_Q_KEEP!r} AS keep
FROM f
""",
)
def quality_logit_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filtering with a PUBLISHED linear classifier:
    per-document logit over the certified quality signals (stopword /
    punctuation ratios, mean word length, capped token count) plus the
    keep decision — the pipeline stage that replaces hand-tuned
    threshold stacks once a classifier is trained offline. Same
    pinned-component device as ann_ivf_fixed_topk: weights are literals,
    so the whole scorer replays exactly in SQL. One narrow projection,
    no shuffle; at 100 TB this is scan-bound and fuses into the same
    stage as any other per-document screen."""
    from stadvdb_olap_spark.functions.screens import (
        quality_logit,
        quality_logit_keep,
    )

    docs = load_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_logit("text").alias("logit"),
        quality_logit_keep("text").alias("keep"),
    )


def _lang_id_sql() -> str:
    score_cols = []
    for lang in sorted(LANG_PROFILES):
        words = "[" + ", ".join(f"'{w}'" for w in LANG_PROFILES[lang]) + "]"
        score_cols.append(
            f"CAST(len(list_filter(toks, x -> list_contains({words}, x))) AS DOUBLE)"
            f" / len(toks) AS s_{lang}"
        )
    langs = sorted(LANG_PROFILES)
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents),
s AS (SELECT doc_id, {', '.join(score_cols)} FROM t)
SELECT doc_id, {case} AS lang_pred FROM s
"""


@query("text_lang_id", oracle=_lang_id_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hit-rates
    (ties -> alphabetically first language)."""
    docs = load_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.lang_scores("text", LANG_PROFILES).alias("lang_pred")
    )


@query(
    "text_fingerprints",
    oracle=f"SELECT doc_id, {T.fingerprint_sql('text')} AS fp FROM documents",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of sorted distinct token
    set)."""
    docs = load_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


@query(
    "dedup_exact_docs",
    oracle="""
SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'), ' '))
           AS content_hash,
       min(doc_id) AS canonical_id,
       count(*)    AS group_size
FROM documents
GROUP BY content_hash
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized content hash."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.exact_dedup_groups(docs, "doc_id", "text")


@query(
    "minhash_signatures_docs",
    oracle=f"{_sigs_sql()}",
)
def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signatures (16 hashes = 16 disjoint slices of
    ONE sha256 digest per shingle, over word 3-shingles) — computed
    row-locally, no shuffle."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.minhash_signatures(docs, "doc_id", "text", _NUM_HASHES, _SHINGLE_N)


@query(
    "dedup_minhash_pairs",
    oracle=f"""
WITH sigs AS MATERIALIZED ({_sigs_sql()}),
bands AS MATERIALIZED ({_bands_sql()})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b USING (band_id, band_key)
WHERE a.doc_id < b.doc_id
""",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: shuffle on band keys only — near-dup
    discovery without the n^2 comparison."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.lsh_candidate_pairs(
        docs, "doc_id", "text", _NUM_HASHES, _BAND_SIZE, _SHINGLE_N
    )


@query(
    "dedup_jaccard_verified",
    oracle=f"""
WITH sigs AS MATERIALIZED ({_sigs_sql()}),
bands AS MATERIALIZED ({_bands_sql()}),
cands AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
),
sets_ AS MATERIALIZED (
    SELECT doc_id, list_distinct(sh) AS sh FROM ({_shingled_sql()})
)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cands
JOIN sets_ sa ON sa.doc_id = id_a
JOIN sets_ sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(sa.sh || sb.sh)) >= {_JACCARD_T}
""",
)
def dedup_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard similarity —
    the verify stage runs only on colliding pairs."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.jaccard_verified_pairs(
        docs, "doc_id", "text", _JACCARD_T, _NUM_HASHES, _BAND_SIZE, _SHINGLE_N
    )


@query(
    "simhash_docs",
    oracle=f"SELECT doc_id, {TD.simhash_sql('text', 16)} AS simhash16 FROM documents",
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (sign-of-bit-sums over token md5s) —
    near-dup docs land on nearby hashes; bucket on the hash for candidate
    generation."""
    docs = load_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", TD.simhash("text", 16).alias("simhash16"))


@query(
    "dedup_clusters_canonical",
    oracle=f"""
WITH RECURSIVE
-- MATERIALIZED: keeps DuckDB from re-evaluating the inlined LSH
-- pipeline inside every recursive iteration (evaluation strategy only;
-- results identical).
sigs AS MATERIALIZED ({_sigs_sql()}),
bands AS MATERIALIZED ({_bands_sql()}),
cands AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
),
sets_ AS MATERIALIZED (
    SELECT doc_id, list_distinct(sh) AS sh FROM ({_shingled_sql()})
),
verified AS MATERIALIZED (
    SELECT id_a, id_b
    FROM cands
    JOIN sets_ sa ON sa.doc_id = id_a
    JOIN sets_ sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(sa.sh || sb.sh)) >= {_JACCARD_T}
),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM verified
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM verified
),
reach(id, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b
)
SELECT id AS doc_id, MIN(lbl) AS canonical_id
FROM reach GROUP BY id
""",
)
def dedup_clusters_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from verified pairs via iterative min-label
    connected components, with the min doc id as each cluster's canonical.

    The Spark side iterates min-label propagation to a fixpoint; the DuckDB
    twin expresses the same fixpoint as a recursive CTE computing each
    node's full reachable set and taking the minimum label — both sides
    converge to component = min reachable id, so the hash oracle holds. A
    unit test additionally verifies against a driver-side union-find."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.dedup_clusters(
        docs, "doc_id", "text", _JACCARD_T, _NUM_HASHES, _BAND_SIZE, _SHINGLE_N
    )


@query(
    "dedup_survivor_longest_docs",
    oracle=f"""
WITH RECURSIVE
sigs AS MATERIALIZED ({_sigs_sql()}),
bands AS MATERIALIZED ({_bands_sql()}),
cands AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
),
sets_ AS MATERIALIZED (
    SELECT doc_id, list_distinct(sh) AS sh FROM ({_shingled_sql()})
),
verified AS MATERIALIZED (
    SELECT id_a, id_b
    FROM cands
    JOIN sets_ sa ON sa.doc_id = id_a
    JOIN sets_ sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(sa.sh || sb.sh)) >= {_JACCARD_T}
),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM verified
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM verified
),
reach(id, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b
),
clusters AS (
    SELECT id AS doc_id, MIN(lbl) AS canonical_id FROM reach GROUP BY id
),
scored AS (
    SELECT c.doc_id, c.canonical_id,
           CAST(len({T.tokens_sql('d.text')}) AS BIGINT) AS n_tokens
    FROM clusters c JOIN documents d USING (doc_id)
)
SELECT doc_id, canonical_id, n_tokens,
       doc_id = first_value(doc_id) OVER (
           PARTITION BY canonical_id
           ORDER BY n_tokens DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS is_survivor
FROM scored
""",
)
def dedup_survivor_longest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE dedup survivorship: within every verified near-dup
    cluster, keep the LONGEST member (token count from the certified
    tokenizer; doc-id tiebreak) instead of the arbitrary min-id — the
    policy real corpus pipelines want, since near-dup clusters usually
    pair a full document with its truncated/boilerplate-stripped copies.
    Composes the certified LSH→verify→connected-components clustering
    with one per-cluster window (partitioned by cluster id — bounded
    grain, one shuffle). Emits every clustered doc with its cluster,
    length and the keep decision, so downstream filters are one
    ``WHERE is_survivor`` away. The body is the SHARED
    ``text_dedup.survivor_longest`` — the same definition the curation
    pipeline's near-dedup stage runs, so the app policy can never drift
    from this certified one."""
    docs = load_spread(spark, sf_dir, "documents")
    return TD.survivor_longest(
        docs, "doc_id", "text", _JACCARD_T, _NUM_HASHES, _BAND_SIZE, _SHINGLE_N
    )


def _curate_sql() -> str:
    # SQL twin of operators/pipeline.py:curate_corpus with its defaults as
    # called below (min_tokens=5, max_stopword_ratio=0.9, stopwords
    # ('the','a'), num_hashes=8, band_size=2, jaccard 0.2): quality gate ->
    # lang id -> exact dedup keep-min-id -> near-dup cluster prune
    # (recursive-CTE connected components) -> md5-range split.
    split_bucket = "substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 2)"
    return f"""
WITH RECURSIVE
-- MATERIALIZED: keeps DuckDB from re-evaluating the inlined pipeline
-- inside every recursive iteration and every multi-reference
-- (evaluation strategy only; results identical).
toks AS MATERIALIZED (
    SELECT doc_id, text, {T.tokens_sql('text')} AS toks FROM documents
),
lang AS MATERIALIZED ({_lang_id_sql()}),
gated AS MATERIALIZED (
    SELECT doc_id, text FROM toks
    WHERE len(toks) >= 5
      AND CAST(len(list_filter(toks, x -> list_contains(['the', 'a'], x))) AS DOUBLE)
              / len(toks) <= 0.9
),
keep_exact AS MATERIALIZED (
    SELECT min(doc_id) AS doc_id
    FROM (SELECT doc_id, md5(array_to_string({T.tokens_sql('text')}, ' ')) AS ch
          FROM gated)
    GROUP BY ch
),
gated2 AS MATERIALIZED (SELECT g.* FROM gated g JOIN keep_exact USING (doc_id)),
all_sigs AS MATERIALIZED ({_sigs_sql(8)}),
sigs AS MATERIALIZED (SELECT s.* FROM all_sigs s JOIN gated2 USING (doc_id)),
bands AS MATERIALIZED ({_bands_sql(8, _BAND_SIZE)}),
cands AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
),
sets_ AS MATERIALIZED (
    SELECT doc_id, list_distinct(sh) AS sh FROM ({_shingled_sql()})
),
verified AS MATERIALIZED (
    SELECT id_a, id_b
    FROM cands
    JOIN sets_ sa ON sa.doc_id = id_a
    JOIN sets_ sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(sa.sh || sb.sh)) >= {_JACCARD_T}
),
edges AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM verified
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM verified
),
reach(id, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b
),
losers AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lbl) <> id)
SELECT g.doc_id, g.text, l.lang_pred,
       CASE WHEN {split_bucket} < 'cc' THEN 'train'
            WHEN {split_bucket} < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM gated2 g
JOIN lang l USING (doc_id)
WHERE g.doc_id NOT IN (SELECT doc_id FROM losers)
"""


@query("curate_corpus_docs", oracle=_curate_sql())
def curate_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline composed end to end: quality gate ->
    language ID -> exact dedup -> near-dup cluster prune -> deterministic
    split. Output is the training-ready corpus; the DuckDB twin replays
    every stage (the iterative cluster fixpoint as a recursive CTE) and
    invariants are additionally pinned by unit tests."""
    from stadvdb_olap_spark.operators.pipeline import curate_corpus

    docs = load_spread(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_tokens=5, jaccard_threshold=_JACCARD_T,
        lang_profiles=LANG_PROFILES,
    )


@query(
    "tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS term_count
  FROM toks GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
)
SELECT doc_id, tf.term,
       CAST(ROUND(term_count * (ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0),
                  6) AS DOUBLE) AS tfidf
FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tf.term) <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    sklearn's convention) — the keyword-extraction / relevance-weighting
    step of a corpus pipeline. Three shuffles total at any scale: term
    counts on (doc, term), doc-frequency on term, and the per-doc top-k
    window; N is a 1-row broadcast. Ranking happens on the ROUNDED score
    with the term as tiebreak, so order is engine-independent."""
    from pyspark.sql import Window

    from stadvdb_olap_spark.functions.text import tokens

    docs = load_spread(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("term_count")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0),
                6,
            ).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "fuzzy_part_name_pairs",
    oracle="""
WITH n AS (SELECT DISTINCT lower(p_name) AS nm FROM part)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS edit_distance
FROM n a JOIN n b
  ON substring(a.nm, 1, 1) = substring(b.nm, 1, 1)
 AND a.nm < b.nm
 AND levenshtein(a.nm, b.nm) <= 3
""",
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / fuzzy entity matching: near-identical name pairs
    by edit distance, blocked on the first character so the self-join is
    per-block instead of n². The classic entity-resolution shape: DISTINCT
    first (the name vocabulary is orders of magnitude smaller than the
    rows), block, then the quadratic-per-block Levenshtein only inside
    blocks — at 100 TB the vocabulary still broadcasts. Levenshtein is
    exact integer DP, identical in every engine."""
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.lower("p_name").alias("nm")).distinct()
    )
    a = names.select(F.col("nm").alias("name_a"))
    b = names.select(F.col("nm").alias("name_b"))
    return (
        a.join(
            b,
            (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
            & (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= 3),
        )
        .select(
            "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_distance"),
        )
    )


_CHUNK_SIZE = 50   # tokens per chunk
_CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


@query(
    "chunk_documents_sliding",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
  FROM documents
)
SELECT doc_id,
       s AS chunk_idx,
       array_to_string(
         toks[s * {_CHUNK_STRIDE} + 1 : s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
         ' ') AS chunk,
       LEAST(CAST({_CHUNK_SIZE} AS BIGINT),
             len(toks) - s * {_CHUNK_STRIDE}) AS chunk_tokens
FROM t,
     unnest(generate_series(
       0, CAST(ceil(len(toks) / {_CHUNK_STRIDE}.0) AS BIGINT) - 1)) AS u(s)
""",
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50 tokens, stride 40 → 10-token
    overlap) — THE pretraining preprocessing step: long documents become
    training-sized pieces without losing cross-boundary context. Pure
    narrow ops at any scale: tokenize, per-row sequence of chunk starts,
    explode, slice — no shuffle anywhere, parallelism = input partitions
    (spread() widens the single-file fixture). Chunk count per doc is
    ceil(n/stride), so the final short tail chunk is kept."""
    from stadvdb_olap_spark.functions.text import tokens

    docs = load_spread(spark, sf_dir, "documents")
    step = F.lit(_CHUNK_STRIDE).cast("long")
    out = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .withColumn("n", F.size("toks").cast("long"))
        .select(
            "doc_id", "toks", "n",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.ceil(F.col("n") / _CHUNK_STRIDE).cast("long") - 1,
                )
            ).alias("chunk_idx"),
        )
    )
    start = F.col("chunk_idx") * step
    return out.select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.slice("toks", start + 1, F.lit(_CHUNK_SIZE)), " ").alias("chunk"),
        F.least(F.lit(_CHUNK_SIZE).cast("long"), F.col("n") - start).alias(
            "chunk_tokens"
        ),
    )


_PACK_BUDGET = 512
_PACK_BUCKETS = 64


def _pack_chunks_sql() -> str:
    """DuckDB replay of bucketed first-fit-decreasing packing.

    The per-bucket FFD fold is sequential by nature, so the oracle
    replays it with a RECURSIVE CTE whose working set advances every
    bucket by one item per iteration, carrying each bucket's open-bin
    remaining capacities as a BIGINT list: first-fit = the first index
    whose remaining capacity holds the item (list_position over a
    c >= w transform; DuckDB returns 0, not NULL, for no-fit), place =
    slice-splice the list, else open a new bin. Items/chunks are
    MATERIALIZED (a plain CTE would re-evaluate per iteration)."""
    b, nb = _PACK_BUDGET, _PACK_BUCKETS
    return f"""
WITH RECURSIVE
chunks AS MATERIALIZED (
  SELECT doc_id, s AS chunk_idx,
         LEAST(CAST({_CHUNK_SIZE} AS BIGINT),
               len(toks) - s * {_CHUNK_STRIDE}) AS w,
         CAST(CAST('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)
                   || '#' || CAST(s AS VARCHAR)), 1, 4) AS UBIGINT)
              % {nb} AS BIGINT) AS bucket
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
        FROM documents) t,
       unnest(generate_series(
         0, CAST(ceil(len(toks) / {_CHUNK_STRIDE}.0) AS BIGINT) - 1)) AS u(s)
),
items AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY bucket
             ORDER BY w DESC, doc_id, chunk_idx) AS rn
  FROM chunks
),
ffd AS (
  SELECT bucket, 0 AS rn, CAST([] AS BIGINT[]) AS caps,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS chunk_idx,
         CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS bin_id
  FROM (SELECT DISTINCT bucket FROM items)
  UNION ALL
  SELECT i.bucket, i.rn,
         CASE WHEN i.w < {b} AND fit.idx > 0
              THEN s.caps[1:fit.idx-1] || [s.caps[fit.idx] - i.w]
                   || s.caps[fit.idx+1:len(s.caps)]
              ELSE s.caps || [greatest({b} - i.w, CAST(0 AS BIGINT))]
         END AS caps,
         i.doc_id, i.chunk_idx, i.w,
         CASE WHEN i.w < {b} AND fit.idx > 0 THEN CAST(fit.idx - 1 AS BIGINT)
              ELSE CAST(len(s.caps) AS BIGINT) END AS bin_id
  FROM ffd s
  JOIN items i ON i.bucket = s.bucket AND i.rn = s.rn + 1,
  LATERAL (SELECT CASE WHEN i.w < {b}
       THEN COALESCE(list_position(list_transform(s.caps, c -> c >= i.w),
                                   true), 0)
       ELSE 0 END AS idx) fit
)
SELECT doc_id, chunk_idx, w AS chunk_tokens, bucket, bin_id
FROM ffd WHERE rn >= 1
"""


@query("pack_chunks_512", oracle=_pack_chunks_sql())
def pack_chunks_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk the corpus, then pack chunks into 512-token training bins
    with bucketed first-fit-decreasing (operators/packing.py) — the two
    pretraining layout stages end-to-end. Oracle-backed since round 8:
    the bucket assignment uses the cross-engine salted-md5 device and
    the DuckDB oracle REPLAYS the per-bucket FFD fold with a recursive
    CTE over the same (w DESC, doc_id, chunk_idx) order (device notes on
    ``_pack_chunks_sql``) — every (bucket, bin_id) placement is
    hash-certified, upgrading the former rows-only invariants check.
    100 TB shape unchanged: narrow chunking, one hash shuffle to 64-way
    buckets, Arrow-batched sequential pack per bucket (bucket count
    scales with data; each bucket is one task)."""
    from stadvdb_olap_spark.operators.packing import pack_sequences

    chunks = chunk_documents_sliding(spark, sf_dir)
    h = F.md5(
        F.concat(
            F.lit("pack:"),
            F.col("doc_id").cast("string"),
            F.lit("#"),
            F.col("chunk_idx").cast("string"),
        )
    )
    bucketed = chunks.withColumn(
        "bucket",
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
         % _PACK_BUCKETS).cast("long"),
    )
    return pack_sequences(
        bucketed,
        ["doc_id", "chunk_idx"],
        "chunk_tokens",
        budget=_PACK_BUDGET,
        bucket_col="bucket",
    )


_BM25_TERMS = ("table", "stream", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


# Shared by the bm25_topk_docs oracle and the RRF fusion oracle — kept
# as one literal so the certified lexical ranking cannot drift between
# the standalone and fused forms.
_BM25_TOPK_SQL = f"""
WITH t AS (
  SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl FROM t
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  WHERE term IN {_BM25_TERMS!r}
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({_BM25_K1} + 1.0)
           / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)),
           6) AS s
  FROM tf
  JOIN dfq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id,
       CAST(score_dec AS DOUBLE) AS bm25,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT doc_id, SUM(CAST(s AS DECIMAL(18,6))) AS score_dec,
         row_number() OVER (
             ORDER BY SUM(CAST(s AS DECIMAL(18,6))) DESC, doc_id) AS rn
  FROM scored GROUP BY doc_id
)
WHERE rn <= {_BM25_TOPK}
"""


@query("bm25_topk_docs", oracle=_BM25_TOPK_SQL)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson/Walker Okapi BM25, the Lucene idf
    variant ln((N-df+0.5)/(df+0.5)+1)) of documents against a fixed
    query-term set — the lexical-retrieval scorer a RAG corpus pipeline
    runs next to the ANN index. Shape: tokens filter to the query terms
    BEFORE any aggregation (the per-(doc,term) tf table only holds
    matching docs), document frequencies and corpus stats are tiny
    broadcasts, and the final top-k ranks on the ROUNDED decimal-summed
    score with doc_id tiebreak so ordering is engine-independent."""
    from pyspark.sql import Window

    docs = load_spread(spark, sf_dir, "documents")
    toked = docs.select("doc_id", T.tokens("text").alias("toks"))
    dl = toked.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toked.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("s"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum(F.col("s").cast("decimal(18,6)")).alias("score_dec")
    )
    w = Window.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select(
            "doc_id", F.col("score_dec").cast("double").alias("bm25"), "rank"
        )
    )


_RAKE_STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "in", "to", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
)


@query(
    "rake_keyphrases_docs",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, t.word, t.pos
    FROM documents,
         LATERAL (SELECT unnest({T.tokens_sql('text')}) AS word,
                         generate_subscripts({T.tokens_sql('text')}, 1) AS pos) t
),
runs AS (
    SELECT doc_id, word, pos,
           word IN {_RAKE_STOPWORDS} AS is_stop,
           SUM(CASE WHEN word IN {_RAKE_STOPWORDS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_id
    FROM toks
),
phrases AS (
    SELECT doc_id, run_id,
           list(word ORDER BY pos) AS words
    FROM runs WHERE NOT is_stop
    GROUP BY doc_id, run_id
    HAVING count(*) BETWEEN 2 AND 4
),
word_stats AS (
    SELECT w.word,
           count(*) AS freq,
           sum(len(p.words)) AS degree
    FROM phrases p, LATERAL (SELECT unnest(p.words) AS word) w
    GROUP BY w.word
),
grouped AS (
    SELECT words, count(*) AS n_occurrences FROM phrases GROUP BY words
),
exploded AS (
    SELECT g.words, g.n_occurrences, t.word, t.wpos
    FROM grouped g,
         LATERAL (SELECT unnest(g.words) AS word,
                         generate_subscripts(g.words, 1) AS wpos) t
),
joined AS (
    SELECT e.words, e.n_occurrences, e.wpos,
           CAST(ws.degree AS DOUBLE) / ws.freq AS wscore
    FROM exploded e JOIN word_stats ws USING (word)
),
scored AS (
    SELECT words, n_occurrences,
           list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list(wscore ORDER BY wpos)),
               (acc, v) -> acc + v) AS score
    FROM joined GROUP BY words, n_occurrences
)
SELECT array_to_string(words, ' ') AS phrase, n_occurrences, score
FROM scored
ORDER BY score DESC, phrase
LIMIT 100
""",
)
def rake_keyphrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, the public rapid-
    automatic-keyword method): candidate phrases are maximal stopword-
    free token runs of length 2-4, each word scores degree/frequency
    over the candidate set, a phrase scores the sum of its words'
    scores IN PHRASE ORDER (fixed small fold — deterministic), top 100
    corpus-wide. Plan shape: one doc-partitioned window assigns run
    ids, two hash aggregates build phrases and word stats, a word-keyed
    join (word vocabulary, not corpus) attaches scores, and
    TakeOrdered caps the output — every key grows with the corpus, no
    driver loop. The degree/freq ratio divides exact BIGINTs; the
    per-phrase sum folds <= 4 doubles in list order: hash-stable."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(T.tokens("text")).alias("pos", "word"),
    )
    is_stop = F.col("word").isin(*_RAKE_STOPWORDS)
    wrun = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = toks.select(
        "doc_id",
        "word",
        "pos",
        is_stop.alias("is_stop"),
        F.sum(is_stop.cast("int")).over(wrun).alias("run_id"),
    )
    phrases = (
        runs.where(~F.col("is_stop"))
        .groupBy("doc_id", "run_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "word"))
            ).alias("pw")
        )
        .select(F.transform("pw", lambda e: e["word"]).alias("words"))
        .where(F.size("words").between(2, 4))
    )
    word_stats = (
        phrases.select(
            F.size("words").alias("plen"), F.explode("words").alias("word")
        )
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .select(
            "word",
            (F.col("degree").cast("double") / F.col("freq")).alias("wscore"),
        )
    )
    grouped = phrases.groupBy("words").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    exploded = grouped.select(
        "words",
        "n_occurrences",
        F.posexplode("words").alias("wpos", "word"),
    ).join(word_stats, "word")
    scored = (
        exploded.groupBy("words", "n_occurrences")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("wpos", "wscore"))
                    ),
                    lambda e: e["wscore"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score")
        )
        .select(
            F.concat_ws(" ", "words").alias("phrase"),
            "n_occurrences",
            "score",
        )
    )
    return scored.orderBy(F.col("score").desc(), "phrase").limit(100)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and dense cosine
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_QVEC = 0  # pinned dense-query vector: embeddings.vec_id = 0
_RRF_TOPK = 20


def _dense_topk_sql() -> str:
    from stadvdb_olap_spark.functions.vectors import EMB_DIM, cosine_sql

    return f"""
SELECT e.vec_id AS doc_id,
       row_number() OVER (
           ORDER BY {cosine_sql('q.qv', 'e.embedding', EMB_DIM)} DESC, e.vec_id) AS rank
FROM embeddings e
CROSS JOIN (SELECT embedding AS qv FROM embeddings
            WHERE vec_id = {_RRF_QVEC}) q
WHERE e.vec_id <> {_RRF_QVEC}
QUALIFY rank <= {_RRF_TOPK}
"""


@query(
    "rrf_fusion_topk_docs",
    oracle=f"""
WITH bm AS ({{bm25}}),
dn AS ({{dense}}),
u AS (
    SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
           COALESCE(1.0 / ({_RRF_K} + bm.rank), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + dn.rank), 0.0) AS rrf,
           bm.rank IS NOT NULL AS in_bm25,
           dn.rank IS NOT NULL AS in_dense
    FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
)
SELECT doc_id, in_bm25, in_dense, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
           AS fused_rank
FROM u
""".format(bm25=_BM25_TOPK_SQL, dense=_dense_topk_sql()),
)
def rrf_fusion_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (1/(k+rank) with k=60,
    Cormack et al. 2009) of the certified BM25 lexical ranking and a
    pinned-query dense cosine ranking — the standard two-retriever RAG
    fusion, score-free by design (RRF consumes only ranks, so the two
    scorers' incomparable scales never meet). Both candidate lists are
    top-{k}-bounded, so the fusion join and final window run on
    2·{k} rows regardless of corpus size; the rank sources themselves
    are the already-scale-shaped BM25 aggregate and brute-force-cosine
    plans. Exact cross-engine: ranks are integers and each RRF term is
    one IEEE division, summed in fixed order."""
    from pyspark.sql import Window

    from stadvdb_olap_spark.functions.vectors import cosine
    from stadvdb_olap_spark.operators.similarity import brute_force_topk

    bm = bm25_topk_docs(spark, sf_dir).select("doc_id", "rank")
    emb = load_spread(spark, sf_dir, "embeddings")
    dn = (
        brute_force_topk(
            emb.filter(F.col("vec_id") == _RRF_QVEC), emb, k=_RRF_TOPK
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    joined = bm.withColumnRenamed("rank", "r_bm").join(
        dn.withColumnRenamed("rank", "r_dn"), "doc_id", "full_outer"
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_bm")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_dn")), F.lit(0.0))
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        joined.select(
            "doc_id",
            F.col("r_bm").isNotNull().alias("in_bm25"),
            F.col("r_dn").isNotNull().alias("in_dense"),
            rrf.alias("rrf"),
        )
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
    )



# Pinned depth-2 stump ensemble over the certified quality signals —
# model-inference-in-engine (the published-weights device of
# quality_logit_filter_docs, extended from linear to tree form). Each
# tree: (root_feat, root_thr, (lf, lt, ll_score, lr_score),
#        (rf, rt, rl_score, rr_score)); integer leaf scores sum.
_GBT_TREES = (
    ("stopword_ratio", 0.30,
     ("mean_word_len", 5.0, -2, 1), ("punct_ratio", 0.08, 3, 1)),
    ("n_tokens", 120.0,
     ("stopword_ratio", 0.22, -3, 0), ("mean_word_len", 6.5, 2, -1)),
    ("punct_ratio", 0.05,
     ("n_tokens", 60.0, -1, 2), ("stopword_ratio", 0.35, 0, 2)),
    ("mean_word_len", 4.2,
     ("punct_ratio", 0.10, 1, -2), ("n_tokens", 200.0, 0, 3)),
)
_GBT_KEEP = 3


def _gbt_sql() -> str:
    def leaf(feat, thr, lo, hi):
        return (
            f"CASE WHEN {feat} < CAST('{thr!r}' AS DOUBLE)"
            f" THEN {lo} ELSE {hi} END"
        )

    trees = []
    for rf, rt, (lf, lt, ll, lr), (gf, gt, gl, gr) in _GBT_TREES:
        trees.append(
            f"(CASE WHEN {rf} < CAST('{rt!r}' AS DOUBLE)"
            f" THEN {leaf(lf, lt, ll, lr)}"
            f" ELSE {leaf(gf, gt, gl, gr)} END)"
        )
    score = " + ".join(trees)
    return f"""
WITH t AS (SELECT doc_id, text, {T.tokens_sql('text')} AS toks FROM documents),
f AS (
    SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                AS DOUBLE) / len(toks) AS mean_word_len,
           CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x)))
                AS DOUBLE) / len(toks) AS stopword_ratio
    FROM t
)
SELECT doc_id, CAST({score} AS BIGINT) AS score,
       ({score}) >= {_GBT_KEEP} AS keep
FROM f
"""


@query("tree_ensemble_score_docs", oracle=_gbt_sql())
def tree_ensemble_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-ensemble model inference inside the engine: a pinned
    4-tree, depth-2 stump ensemble (the shape of a distilled quality
    GBDT) scored per document over the certified quality signals, with
    the keep decision at a published margin — how production pipelines
    serve lightweight learned filters without leaving the scan (tree
    traversal lowers to nested CASE, staying in whole-stage codegen).
    Determinism: every split compares an already-certified IEEE double
    against a literal threshold and every leaf is an integer, so the
    summed score is exact on both engines. Scan-bound, no shuffle; the
    ensemble is data (swap thresholds without replanning)."""
    docs = load_spread(spark, sf_dir, "documents")
    stats = T.quality_stats("text", STOPWORDS)
    feats = {
        "n_tokens": stats["n_tokens"].cast("double"),
        "mean_word_len": stats["mean_word_len"],
        "punct_ratio": stats["punct_ratio"],
        "stopword_ratio": stats["stopword_ratio"],
    }

    def leaf(feat, thr, lo, hi):
        return F.when(feats[feat] < F.lit(thr), F.lit(lo)).otherwise(
            F.lit(hi)
        )

    score = None
    for rf, rt, (lf, lt, ll, lr), (gf, gt, gl, gr) in _GBT_TREES:
        tree = F.when(feats[rf] < F.lit(rt), leaf(lf, lt, ll, lr)).otherwise(
            leaf(gf, gt, gl, gr)
        )
        score = tree if score is None else score + tree
    return docs.select(
        "doc_id",
        score.cast("long").alias("score"),
        (score >= F.lit(_GBT_KEEP)).alias("keep"),
    )


_FK_A = 0.39
_FK_B = 11.8
_FK_C = 15.59


@query(
    "readability_fk_docs",
    oracle=f"""
WITH f AS (
    SELECT doc_id,
           CAST(len({T.tokens_sql('text')}) AS BIGINT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS n_sentences,
           CAST(greatest(len(regexp_extract_all(lower(text),
               '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST('{_FK_A!r}' AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / n_sentences)
       + CAST('{_FK_B!r}' AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / n_words)
       - CAST('{_FK_C!r}' AS DOUBLE) AS fk_grade
FROM f
WHERE n_words > 0
""",
)
def readability_fk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade-level readability per document (Kincaid et
    al. 1975): 0.39·(words/sentence) + 11.8·(syllables/word) − 15.59,
    with syllables approximated by vowel-group counts — the classic
    text-complexity signal curation pipelines use alongside the quality
    rule stack (too-low and too-high grades both correlate with junk).
    Sentence/syllable counts are regex counts (identical integers both
    engines, floored at 1 so no division blows up); the grade formula
    runs in a PINNED op order over two exact-integer divisions with
    the published constants as literals — hash-exact. Scan-bound row-
    local projection; fuses with any other per-document screen."""
    docs = load_spread(spark, sf_dir, "documents")
    t = T.tokens("text")
    n_words = F.size(t).cast("long")
    n_sent = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("long")
    f = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return f.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(_FK_A)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            + F.lit(_FK_B)
            * (F.col("n_syllables").cast("double") / F.col("n_words"))
            - F.lit(_FK_C)
        ).alias("fk_grade"),
    )


@query(
    "lexical_diversity_by_source",
    oracle=f"""
WITH t AS (
    SELECT source, unnest({T.tokens_sql('text')}) AS tok FROM documents
),
tf AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY source, tok
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS DOUBLE) / SUM(n) AS type_token_ratio,
       CAST(COUNT(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) FILTER (n = 1) AS DOUBLE) / COUNT(*)
           AS hapax_share
FROM tf GROUP BY source
""",
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document source: token count,
    vocabulary size (types), type-token ratio, and the hapax-legomenon
    share (types appearing exactly once) — the corpus-health metrics
    a pretraining data report tracks per source (synthetic or
    template-generated sources show up immediately as low TTR / low
    hapax share; near-random text as the opposite). Pure integer
    counting with two exact divisions — hash-exact. One explode + two
    hash aggregates keyed on (source, token) then source; at 100 TB
    the (source, token) aggregate is the only real shuffle and is
    exactly the TF pass the certified TF-IDF queries already run."""
    docs = load_spread(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(T.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return tf.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.count(F.lit(1)).cast("double") / F.sum("n")).alias(
            "type_token_ratio"
        ),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        (
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hapax_share"),
    )


_COLLOC_MIN_SUPPORT = 5
_COLLOC_TOPK = 50


@query(
    "collocation_lift_bigrams",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents
), bg AS MATERIALIZED (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM bg),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= {_COLLOC_MIN_SUPPORT}
),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
c2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w2),
scored AS (
  SELECT w1, w2, c12, c1, c2,
         CAST(c12 * n_bg AS DOUBLE) / CAST(c1 * c2 AS DOUBLE) AS lift
  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
)
SELECT w1, w2, c12, c1, c2, lift,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rk
  FROM scored
)
WHERE rk <= {_COLLOC_TOPK}
""",
)
def collocation_lift_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining by LIFT — observed bigram frequency over
    the frequency expected if the two positions were independent,
    lift = c12 * N / (c1 * c2) with first-/second-position margins (the
    log of this is PMI; publishing the ratio keeps the output inside
    the correctly-rounded-ops canon, per compat: ln is not correctly
    rounded). Min support {_COLLOC_MIN_SUPPORT}, top {_COLLOC_TOPK} by
    (lift DESC, w1, w2). Every count is an exact BIGINT, products stay
    far under 2^53, and lift is ONE double division — both engines rank
    bit-identical values, so the row_number cut is deterministic.
    100 TB shape: three map-side-combinable hash aggregates over the
    bigram stream and two model-key joins (the margins are dictionary-
    sized); the final top-k is a single bounded window over the
    support-filtered candidate set."""
    docs = load_spread(spark, sf_dir, "documents")
    toked = docs.select(T.tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    n = bg.agg(F.count(F.lit(1)).cast("long").alias("n_bg"))
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= _COLLOC_MIN_SUPPORT)
    )
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    scored = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            (
                (F.col("c12") * F.col("n_bg")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.col("lift").desc(), "w1", "w2")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _COLLOC_TOPK)
    )


@query(
    "chao1_vocab_estimate_docs",
    oracle=f"""
WITH toks AS (
    SELECT unnest({T.tokens_sql('text')}) AS w FROM documents
),
freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY w),
fof AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
           CAST(COUNT(*) FILTER (f = 1) AS BIGINT) AS f1,
           CAST(COUNT(*) FILTER (f = 2) AS BIGINT) AS f2,
           CAST(SUM(f) AS BIGINT) AS n_tokens
    FROM freq
)
SELECT s_obs, f1, f2, n_tokens,
       CAST(s_obs AS DOUBLE)
         + CAST(f1 AS DOUBLE) * f1 / (2 * (CAST(f2 AS DOUBLE) + 1))
           AS chao1_estimate,
       (CAST(s_obs AS DOUBLE)
         + CAST(f1 AS DOUBLE) * f1 / (2 * (CAST(f2 AS DOUBLE) + 1)))
         / s_obs - 1 AS unseen_frac
FROM fof
""",
)
def chao1_vocab_estimate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate (Chao 1984, the bias-corrected
    form S + F1²/(2(F2+1))): how many word types the corpus has NOT yet
    shown, from the singleton/doubleton counts alone — the coverage
    planner's answer to "how much new vocabulary will the next crawl
    add", and the species-richness lens on tokenizer/vocab sizing. The
    frequency-of-frequencies profile is two exact hash aggregates
    (token counts, then counts-of-counts reduced to one row); the
    estimator spends two divisions on exact-integer operands. 100 TB
    shape: one vocabulary-keyed aggregate (map-side combinable), then a
    1-row reduce — the same plan as any word count."""
    docs = load_spread(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    fof = freq.agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
        F.sum("f").cast("long").alias("n_tokens"),
    )
    chao1 = F.col("s_obs").cast("double") + F.col("f1").cast(
        "double"
    ) * F.col("f1") / (2 * (F.col("f2").cast("double") + 1))
    return fof.select(
        "s_obs",
        "f1",
        "f2",
        "n_tokens",
        chao1.alias("chao1_estimate"),
        (chao1 / F.col("s_obs") - 1).alias("unseen_frac"),
    )
