"""Text-analysis + dedup query plans over the `documents` table
(extension layer; BASELINE.json north star). Oracle-checked where the
kernel is SQL-expressible — including the FULL MinHash+LSH and SimHash
pipelines (shingle/token → signature → band → candidate → cluster),
whose md5-derived portable base hash (functions/dedup.portable_hash)
lets a DuckDB twin reproduce the exact candidate sets. BPE tokenizer
training is fully gated as of r5 (`bpe_train_merges`: the production
64-merge run hash-matches a generated unrolled materialized-CTE replay;
`bpe_train_bounded` is the fast 8-round twin); tests/test_bpe.py pins
the literature goldens besides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpat_jl_spark.functions import dedup as D
from hpat_jl_spark.functions import text as X
from hpat_jl_spark.registry import register
from hpat_jl_spark.session import pinned_width
from hpat_jl_spark.tables import doc_text_stream, load_table

_STOP_SQL = ", ".join(f"'{w}'" for w in X.STOPWORDS)

_text_stats_oracle = f"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         lower(text) AS lowered,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS normalized
  FROM documents
), stats AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE / len(toks) AS sw,
         length(regexp_replace(lowered, '[a-z0-9\\s]', '', 'g'))::DOUBLE
           / length(lowered) AS pr,
         md5(normalized) AS fingerprint
  FROM base
)
SELECT doc_id,
       n_tokens,
       round(sw, 4) AS stopword_ratio,
       round(pr, 4) AS punct_ratio,
       round(0.4 * least(sw * 5.0, 1.0) + 0.3 * (1.0 - pr)
             + 0.3 * least(n_tokens / 100.0, 1.0), 4) AS quality,
       CASE WHEN sw > 0.05 THEN 'en' ELSE 'other' END AS lang_guess,
       fingerprint
FROM stats
"""


@register(
    "text_stats",
    oracle=_text_stats_oracle,
    tags=("text", "headline", "prepared", "concurrent"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, quality scoring, language-ID heuristic and
    fingerprinting in one scan — all built-in-function compositions
    (functions/text.py), zero Python in the plan.

    Tokenization/ratios are materialized ONCE in a staged projection and
    reused — the naive composition re-evaluates split+filter per derived
    column (quality_score alone embeds three tokenizations; Catalyst's
    subexpression elimination doesn't span the lambda functions).

    r13: the r6-era unconditional round-robin ``repartition(par)`` of
    the raw-text stream is now the shared CONDITIONAL pin
    (tables.doc_text_stream). Interleaved min-of-3 measured
    pinned vs unpinned at PARITY at both sf0.1 (0.218 vs 0.221 s) and
    the ×10 tier (0.439 vs 0.450 s) — the per-doc ratio math is light
    enough that the pin buys nothing locally, and at split-rich scale
    a blanket exchange of raw text is pure tax, so the conditional
    form is the only shape with no losing tier."""
    staged = doc_text_stream(spark, sf_dir).select(
        "doc_id",
        "text",
        X.tokens("text").alias("__toks"),
        F.lower("text").alias("__lowered"),
    )
    ratios = staged.select(
        "doc_id",
        "text",
        F.size("__toks").alias("n_tokens"),
        (
            F.size(F.filter("__toks", X._in_stopwords)).cast("double")
            / F.size("__toks")
        ).alias("__sw"),
        (
            F.length(F.regexp_replace("__lowered", r"[a-z0-9\s]", "")).cast(
                "double"
            )
            / F.length("__lowered")
        ).alias("__pr"),
    )
    quality = (
        0.4 * F.least(F.col("__sw") * 5.0, F.lit(1.0))
        + 0.3 * (1.0 - F.col("__pr"))
        + 0.3 * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    )
    return ratios.select(
        "doc_id",
        "n_tokens",
        F.round("__sw", 4).alias("stopword_ratio"),
        F.round("__pr", 4).alias("punct_ratio"),
        F.round(quality, 4).alias("quality"),
        F.when(F.col("__sw") > 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_guess"),
        X.fingerprint("text").alias("fingerprint"),
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_token_bpe_oracle = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens
FROM documents
"""


@register("token_count_bpe", oracle=_token_bpe_oracle, tags=("text",))
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization (word / number / punctuation split, the
    regex approximation of a GPT-2-style pre-tokenizer) next to plain
    whitespace counting — the token-budget accounting pass of a
    training-data pipeline."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(X.tokens("text")).alias("n_ws_tokens"),
    )


_ROLL_SALTS = ("s0", "s1", "s2", "s3")

_rolling_oracle = f"""
SELECT doc_id,
       {', '.join(
           "list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1), "
           f"i -> md5('{s}' || substr(text, i, 8)))) AS fp{k}"
           for k, s in enumerate(_ROLL_SALTS)
       )}
FROM documents
"""


@register("rolling_fingerprint", oracle=_rolling_oracle, tags=("text",))
def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum hash over all
    character 8-gram windows, under 4 salted hash families (min-
    selection is robust to local edits, unlike whole-document md5; a
    single global min over-collides on shared-vocabulary corpora — 116
    distinct values across 500 fixture docs — so the fingerprint is the
    4-tuple, which collides only for genuinely near-identical text)."""
    docs = load_table(spark, "documents", sf_dir)
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))

    def hasher(salt: str):
        # single-arg lambda: a 2-arg lambda would make F.transform pass
        # (element, index) and silently shadow the salt
        return lambda i: F.md5(
            F.concat(F.lit(salt), F.col("text").substr(i, F.lit(8)))
        )

    cols = [
        F.array_min(F.transform(idx, hasher(s))).alias(f"fp{k}")
        for k, s in enumerate(_ROLL_SALTS)
    ]
    return docs.select("doc_id", *cols)


_clean_pipeline_oracle = f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x IN ({_STOP_SQL})))::DOUBLE
           / len(regexp_split_to_array(trim(text), '\\s+')) AS sw,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored
  WHERE n_tokens >= 20 AND sw > 0.02
), deduped AS (
  SELECT fp, min(doc_id) AS keep_id,
         arg_min(lang, doc_id) AS lang,
         arg_min(source, doc_id) AS source
  FROM kept GROUP BY fp
)
SELECT lang, source, count(*) AS n_docs
FROM deduped
GROUP BY lang, source
"""


@register("corpus_clean_pipeline", oracle=_clean_pipeline_oracle, tags=("text",))
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: quality gate (length + stopword
    density) → exact dedup (keep lowest id per fingerprint) → per
    (lang, source) survivor counts. The composition every training-data
    pipeline runs, as ONE Catalyst plan: scan → filter → two hash
    aggregates; text never shuffles twice (the dedup shuffle carries
    fingerprints, the count shuffle carries group keys)."""
    docs = load_table(spark, "documents", sf_dir)
    sw = X.stopword_ratio("text")
    n_tokens = X.token_count("text")
    kept = docs.select(
        "doc_id", "lang", "source",
        X.fingerprint("text").alias("fp"),
        sw.alias("__sw"), n_tokens.alias("__nt"),
    ).filter((F.col("__nt") >= 20) & (F.col("__sw") > 0.02))
    # attributes of the KEPT doc (min doc_id) — min_by/arg_min keeps the
    # group deterministic even if identical text appears under two
    # different (lang, source) labels
    deduped = kept.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_dedup_exact_oracle = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1
"""


@register(
    "dedup_exact",
    oracle=_dedup_exact_oracle,
    tags=("dedup", "headline", "prepared", "concurrent"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text md5 — one hash aggregate, the
    canonical first pass of any corpus pipeline. At 100 TB this shuffles
    only (16-byte fingerprint, id) pairs, never text."""
    docs = load_table(spark, "documents", sf_dir)
    return D.exact_dedup(docs).select("fingerprint", "keep_id", "n_dups")


_JACCARD_THRESHOLD = 0.3

# Distinct-content decomposition (r11 — the last liveness-audit
# slow-skip): the naive doc×doc bucket join squares through duplicate
# multiplicity, so the ×10 tier's 10-way verbatim replicas cost ×100
# pair WORK even though only the output is ×100. This form groups docs
# by content first (the sig-level banding discipline), scores the
# rep-level pairs once per distinct content pair, and ENUMERATES the
# doc-pair output by unnesting id lists — intra-content pairs are
# jaccard-1.0 by definition. Pair-for-pair identical to the naive
# join (verified at sf0.01/sf0.1); rep work is duplicate-free.
_ngram_jaccard_oracle = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, source, md5(text) AS fp,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS words
  FROM documents
), groups AS MATERIALIZED (
  SELECT lang, source, fp, any_value(words) AS words,
         list(doc_id) AS ids
  FROM d GROUP BY lang, source, fp
), rep_scored AS (
  SELECT a.ids AS ids_a, b.ids AS ids_b,
         round(len(list_intersect(a.words, b.words))::DOUBLE
               / len(list_distinct(a.words || b.words)), 4) AS jaccard
  FROM groups a JOIN groups b
    ON a.lang = b.lang AND a.source = b.source AND a.fp < b.fp
), cross_pairs AS (
  SELECT least(x, y) AS doc_a, greatest(x, y) AS doc_b, jaccard
  FROM rep_scored, unnest(ids_a) AS t1(x), unnest(ids_b) AS t2(y)
  WHERE jaccard > {_JACCARD_THRESHOLD}
), intra_pairs AS (
  SELECT x AS doc_a, y AS doc_b, round(1.0, 4) AS jaccard
  FROM groups, unnest(ids) AS t1(x), unnest(ids) AS t2(y)
  WHERE x < y
)
SELECT doc_a, doc_b, jaccard FROM cross_pairs
UNION ALL
SELECT doc_a, doc_b, jaccard FROM intra_pairs
"""


@register("ngram_jaccard", oracle=_ngram_jaccard_oracle, tags=("dedup",))
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over (lang, source)-bucketed pairs —
    bucketing bounds the pair blow-up (SURVEY §7: never a global cross
    product; at scale the bucket key is an LSH band instead)."""
    docs = load_table(spark, "documents", sf_dir)
    return D.jaccard_pairs(
        docs, ["lang", "source"], threshold=_JACCARD_THRESHOLD
    )


_split_oracle = """
SELECT lang,
       CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
            ELSE 'eval' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@register("train_test_split", oracle=_split_oracle, tags=("text",))
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/eval split (first md5 nibble:
    0-b → train = 12/16 = 75%). Content-addressed splitting survives
    re-shards and re-ingestion — row-number or random splits don't;
    this is the standard trick for reproducible corpus splits."""
    docs = load_table(spark, "documents", sf_dir)
    split = F.when(
        F.substring(F.md5("text"), 1, 1).between("0", "b"), F.lit("train")
    ).otherwise(F.lit("eval"))
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _minhash_pair_ctes(threshold: float) -> str:
    """DuckDB CTE chain reproducing functions/dedup.minhash_candidates
    EXACTLY: same 3-gram shingles, same md5-derived portable base hash,
    same fixed-seed affine permutation family (minhash_coefficients),
    same 8×4 banding and band hash. The candidate SET (not just the
    estimate) is therefore hash-comparable across engines — this is the
    upgrade from the r3 rows-only check (VERDICT r3 what's-wrong #3)."""
    mins = ",\n    ".join(
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % 2305843009213693951))"
        for a, b in D.minhash_coefficients(32)
    )
    return f"""
toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), hs AS (
  SELECT id, list_transform(
           generate_series(1, greatest(len(w) - 2, 1)),
           i -> ('0x' || substr(md5(array_to_string(list_slice(w, i, i + 2), ' ')), 1, 15))::BIGINT
                % 2147483647
         ) AS h
  FROM toks
), sig AS (
  SELECT id, [{mins}] AS sig FROM hs
), banded AS (
  SELECT id, sig, band,
         ('0x' || substr(md5(array_to_string(list_slice(sig, band * 4 + 1, band * 4 + 4), ',')), 1, 15))::BIGINT
           AS bhash
  FROM sig, (SELECT unnest(range(0, 8)) AS band)
), lsh_pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id
), strong AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i]))::DOUBLE / 32 AS est_jaccard
  FROM lsh_pairs
  WHERE len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i]))::DOUBLE / 32 >= {threshold}
)"""


# est_jaccard is k/32 with k integer — dyadic-exact in float64, so both
# engines emit bit-identical doubles WITHOUT rounding (CLAUDE.md trap:
# round() diverges cross-engine exactly on such dyadic .5 boundaries).
_minhash_oracle = f"""
WITH {_minhash_pair_ctes(0.5)}
SELECT id_a AS doc_a, id_b AS doc_b, est_jaccard FROM strong
"""


@register(
    "dedup_minhash", oracle=_minhash_oracle, tags=("dedup", "headline", "prepared")
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 32 minhashes → 8
    bands → bucket self-join). Fully oracle-gated: the portable md5
    base hash makes the exact candidate set reproducible in DuckDB
    (_minhash_pair_ctes); planted near-duplicates additionally pinned
    by tests/test_dedup.py. (Reference analogue: test/join_test1.jl's
    exact-golden discipline applied to the LSH path.)"""
    docs = load_table(spark, "documents", sf_dir)
    out = D.minhash_candidates(docs, fanout=pinned_width(spark, sf_dir)).filter(
        F.col("est_jaccard") >= 0.5
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("est_jaccard"),
    )


# DuckDB twin of the full SimHash pipeline (r4 upgrade from rows-only,
# enabled by the portable md5 token hash): per-(doc, bit) majority vote
# rebuilt relationally, signature as a 60-char '0'/'1' string whose
# 15-char substrings are exactly the Spark band keys.
_simhash_oracle = """
WITH toks AS (
  SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), hs AS (
  SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), bitcnt AS (
  SELECT id, b,
         count(*) FILTER (WHERE (h >> b) & 1 = 1) AS ones,
         count(*) AS n
  FROM hs, (SELECT unnest(range(0, 60)) AS b)
  GROUP BY id, b
), sigs AS (
  SELECT id,
         string_agg(CASE WHEN 2 * ones > n THEN '1' ELSE '0' END, ''
                    ORDER BY b) AS s
  FROM bitcnt GROUP BY id
), banded AS (
  SELECT id, s, band, substr(s, band * 15 + 1, 15) AS bkey
  FROM sigs, (SELECT unnest(range(0, 4)) AS band)
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
)
SELECT id_a AS doc_a, id_b AS doc_b,
       len(list_filter(range(1, 61), i -> substr(sa, i, 1) <> substr(sb, i, 1)))
         AS hamming
FROM pairs
WHERE len(list_filter(range(1, 61), i -> substr(sa, i, 1) <> substr(sb, i, 1))) <= 3
"""


@register(
    "dedup_simhash", oracle=_simhash_oracle, tags=("dedup", "headline", "prepared")
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (60-bit portable signature, 4×15-bit
    bands, Hamming ≤ 3). Fully oracle-gated since r4: the md5-derived
    token hash lets DuckDB rebuild signatures, band keys, the candidate
    set, and the Hamming filter exactly; planted-dup recall pinned in
    tests/test_dedup.py."""
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_candidates(docs, fanout=pinned_width(spark, sf_dir)).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# Recursive-CTE min-label propagation over the SAME minhash pair CTEs:
# 40 fixed rounds reach the fixpoint whenever component diameter < 40
# (near-dup clusters are tiny); the Spark side early-stops at the same
# fixpoint (same pattern as graph.py's connected_components oracle).
_dedup_cluster_oracle = f"""
WITH RECURSIVE {_minhash_pair_ctes(0.5)},
verts AS MATERIALIZED (SELECT id_a AS vertex FROM strong UNION SELECT id_b FROM strong),
aug AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM strong
  UNION ALL SELECT id_b, id_a FROM strong
  UNION ALL SELECT vertex, vertex FROM verts
),
cc(iter, vertex, comp) AS (
  SELECT 0, vertex, vertex FROM verts
  UNION ALL
  SELECT c.iter + 1, a.dst, min(c.comp)
  FROM cc c JOIN aug a ON a.src = c.vertex
  WHERE c.iter < 40
  GROUP BY c.iter + 1, a.dst
),
members AS (
  SELECT vertex AS doc_id, comp AS canonical_id
  FROM cc WHERE iter = 40 AND vertex <> comp
)
SELECT m.canonical_id,
       (count(*) + 1)::BIGINT AS cluster_size,
       CAST(sum(d.n_chars) AS BIGINT) AS chars_removable
FROM members m JOIN documents d USING (doc_id)
GROUP BY m.canonical_id
"""


@register("dedup_cluster", oracle=_dedup_cluster_oracle, tags=("dedup",))
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash+LSH pairs → connected
    components → per-cluster summary (canonical id = min doc_id,
    cluster size, chars removable by keeping only the canonical).
    Fully oracle-gated (upgraded from rows-only in r4): the portable
    minhash twin reproduces the pair set and a recursive CTE replays
    the min-label fixpoint; transitive-merge semantics also pinned by
    tests/test_dedup.py::test_neardup_clusters_transitive."""
    docs = load_table(spark, "documents", sf_dir)
    assign = D.neardup_clusters(docs, threshold=0.5)
    clustered = assign.filter(F.col("doc_id") != F.col("canonical_id"))
    sizes = (
        clustered.join(docs, "doc_id")
        .groupBy("canonical_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("cluster_size"),
            F.sum("n_chars").alias("chars_removable"),
        )
    )
    return sizes.select("canonical_id", "cluster_size", "chars_removable")


_chunk_oracle = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
c AS (SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - 49, 1), 25))
               AS chunk_start
      FROM t)
SELECT doc_id, chunk_start,
       len(list_slice(toks, chunk_start, chunk_start + 49))::BIGINT
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_start, chunk_start + 49), ' '))
         AS chunk_hash
FROM c
"""


@register("document_chunks", oracle=_chunk_oracle, tags=("text",))
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 50, stride 25) — the
    corpus→training-rows transform, entirely JVM-side (tokenize once,
    explode chunk starts, slice per window); chunk identity pinned
    cross-engine by md5 of the reassembled window."""
    docs = load_table(spark, "documents", sf_dir)
    return X.chunk_documents(docs, chunk_size=50, stride=25)


# Incremental-ingest dedup: the nightly pattern — a new document batch
# lands, and only content UNSEEN by the existing corpus (and unseen
# within the batch itself, keep-first) survives. Split is content-free
# (doc_id mod 5) so the oracle replays it exactly.
_incr_dedup_oracle = """
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
         doc_id % 5 = 0 AS incoming
  FROM documents
), corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE NOT incoming),
batch AS (
  SELECT doc_id, source, fingerprint,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp WHERE incoming
)
SELECT b.doc_id, b.source, b.fingerprint
FROM batch b LEFT JOIN corpus c USING (fingerprint)
WHERE b.rn = 1 AND c.fingerprint IS NULL
"""


@register("incremental_dedup_ingest", oracle=_incr_dedup_oracle, tags=("text", "dedup"))
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: dedupe an incoming batch against
    the EXISTING corpus (anti-join on content fingerprint) and within
    itself (keep lowest id per fingerprint) — what a daily crawl-merge
    runs, where re-fingerprinting the whole corpus would be the
    anti-pattern. Plan: one fingerprint projection feeds both sides;
    batch-internal keep-first is a partitioned window; the corpus
    membership check is a LEFT ANTI join shuffling (fingerprint, id)
    pairs only — at 100 TB the corpus side would also carry a bloom
    pre-filter (test_scale_strategies pins that machinery)."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        "doc_id", "source", X.fingerprint("text").alias("fingerprint")
    )
    corpus = fp.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch = (
        fp.filter(F.col("doc_id") % 5 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return batch.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "source", "fingerprint"
    )


@register(
    "bloom_prefilter_ingest",
    oracle=_incr_dedup_oracle,
    tags=("text", "dedup", "headline", "prepared"),
)
def bloom_prefilter_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_dedup_ingest's documented 100 TB companion made
    concrete and RESULT-GATED (VERDICT r04 #8, same oracle as the plain
    anti-join — the value hash proves the pre-filter never changes the
    answer): a one-hash bloom filter over the corpus, realized as the
    DISTINCT 16-bit prefix set of portable_hash(fingerprint) — bounded
    at ≤ 65536 rows REGARDLESS of corpus size, so it broadcasts.

    Batch rows whose prefix is absent from the set provably have no
    corpus match (a hash of an equal fingerprint is equal) and skip the
    fingerprint anti-join entirely — a broadcast anti-join, narrow for
    the batch; only the maybe-present remainder pays the (fingerprint,
    id) shuffle. At a mostly-novel daily crawl that remainder is a
    sliver of the batch; the false-positive rate is corpus_distinct /
    2^16 per the one-hash bloom bound, and false positives only cost
    the shuffle they would have paid anyway. In production the prefix
    set is maintained incrementally alongside the corpus (it is a
    monotone union), not re-derived per batch — re-deriving here keeps
    the registered query self-contained."""
    from pyspark.sql import Window

    from hpat_jl_spark.functions.dedup import portable_hash

    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        "doc_id", "source", X.fingerprint("text").alias("fingerprint")
    )
    corpus = fp.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    bloom = corpus.select(
        (portable_hash("fingerprint") % 65536).alias("bloom_bit")
    ).distinct()
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch = (
        fp.filter(F.col("doc_id") % 5 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("bloom_bit", portable_hash("fingerprint") % 65536)
    )
    fresh = batch.join(F.broadcast(bloom), "bloom_bit", "left_anti")
    maybe = batch.join(F.broadcast(bloom), "bloom_bit", "left_semi")
    survived = maybe.join(corpus, "fingerprint", "left_anti")
    return survived.select("doc_id", "source", "fingerprint").unionByName(
        fresh.select("doc_id", "source", "fingerprint")
    )


# Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): 50-token windows whose
# EXACT content recurs across documents — the candidate step of
# substring-level dedup (the full suffix-array pass refines candidate
# spans; windows with stride 25 guarantee any duplicated run of ≥ 75
# tokens shares at least one full aligned window).
_dup_span_oracle = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM documents),
c AS (SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - 49, 1), 25))
               AS chunk_start, toks
      FROM t),
h AS (SELECT doc_id,
             md5(array_to_string(list_slice(toks, chunk_start, chunk_start + 49), ' '))
               AS chunk_hash
      FROM c
      WHERE len(list_slice(toks, chunk_start, chunk_start + 49)) = 50)
SELECT chunk_hash,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occurrences
FROM h
GROUP BY chunk_hash
HAVING count(DISTINCT doc_id) >= 2
"""


@register(
    "duplicate_span_report",
    oracle=_dup_span_oracle,
    tags=("text", "dedup", "headline", "prepared"),
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact duplicate spans: every FULL 50-token window
    (stride 25) hashed, grouped, kept where ≥ 2 distinct docs share it.
    One tokenize+slice map stage and one hash-keyed aggregate — the
    shuffle carries (hash, doc_id), never the text; at 100 TB this is
    the same shape as exact dedup, just at window granularity."""
    # r12: pin the fan-out of the bare (doc_id, text) stream before
    # the chunker ONLY when the scan itself is split-starved (the
    # single-row-group fixture caps the scan at 1 split, so chunk+md5+
    # partial-countDistinct ran in ONE task — 341 ms of the 0.72 s
    # in-jobs at sf0.1). Unlike benchmark_decontaminate/bpe_encode the
    # chunker's compute is too light to dwarf an exchange of raw text
    # on a split-rich input — see session.starved_scan_pin_width.
    chunks = X.chunk_documents(
        doc_text_stream(spark, sf_dir), chunk_size=50, stride=25
    )
    return (
        chunks.filter(F.col("n_chunk_tokens") == 50)
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register("quality_model_filter", oracle=None, tags=("text", "ml"))
def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-loop quality gate: train a logistic-regression
    classifier on weak heuristic labels (quality_score threshold), then
    score the WHOLE corpus with the model and report per-source keep
    rates — the pattern modern corpus pipelines use to generalize a
    hand-tuned heuristic (train on cheap labels, filter with the model).

    Scale shape: feature extraction is pure Column math at scan time;
    training iterates L-BFGS over treeAggregate gradients (the
    reference's gemm+allreduce loop, DAAL-free); inference is one
    map-stage UDF-free vector dot via the fitted model's transform.
    Rows-only driver check for THIS query (its gate compares model
    scores at a threshold, where a last-ulp coefficient difference
    could flip a boundary doc); the TRAINING itself is value-hash
    gated by quality_model_coefs below. Model-recovers-its-teacher
    accuracy asserted in tests/test_ml.py."""
    from pyspark.ml.classification import LogisticRegression as MLLogReg

    from hpat_jl_spark.ml.kernels import assemble_features

    docs = load_table(spark, "documents", sf_dir)
    feats = docs.select(
        "doc_id",
        "source",
        X.stopword_ratio("text").alias("f_stop"),
        X.punct_ratio("text").alias("f_punct"),
        (F.least(X.token_count("text").cast("double") / 100.0, F.lit(1.0))).alias(
            "f_len"
        ),
        (X.quality_score("text") > 0.55).cast("double").alias("label"),
    )
    assembled = assemble_features(feats, ["f_stop", "f_punct", "f_len"])
    model = MLLogReg(
        featuresCol="features", labelCol="label", maxIter=50
    ).fit(assembled)
    scored = model.transform(assembled)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("prediction").cast("long")).alias("n_kept"),
            F.round(F.avg("prediction"), 4).alias("keep_rate"),
        )
    )


# ---- exact-integer linear quality gate ----
# quality_model_filter's THRESHOLD decision is rows-only (a last-ulp
# score difference can flip a boundary doc). This twin shows the
# deployed-filter decision CAN be gated exactly: with fixed RATIONAL
# coefficients (milli-units, the form a deployed model ships in after
# quantization) every feature is a ratio of integer counts, so the
# keep rule
#   b0 + b1·(n_stop/n_tok) + b2·(n_punct/n_char) + b3·min(n_tok,100)/100 ≥ θ
# clears denominators (n_tok, n_char > 0 by the non-empty filter;
# ×100·n_tok·n_char preserves the inequality) into ONE int64
# comparison — no float anywhere in the verdict, so the kept set and
# its margins hash-match. |terms| ≤ 2000·500·10^4·100 ≈ 10^12, far
# inside int64 (and the ANSI-overflow trap's reach).
_QG = {"b0": -200, "b_stop": 2000, "b_punct": -1500, "b_len": 800, "theta": 300}
_QG_STOP_SQL = ", ".join(f"'{w}'" for w in X.STOPWORDS)

_quality_gate_oracle = f"""
WITH feats AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> t IN ({_QG_STOP_SQL})))::BIGINT AS n_stop,
         length(lower(text))::BIGINT AS n_char,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT
           AS n_punct
  FROM documents
), margins AS (
  SELECT doc_id, source, n_tok, n_stop, n_punct,
         ({_QG["b0"]} - {_QG["theta"]}) * n_tok * n_char * 100
         + {_QG["b_stop"]} * n_stop * n_char * 100
         + {_QG["b_punct"]} * n_punct * n_tok * 100
         + {_QG["b_len"]} * least(n_tok, 100) * n_tok * n_char AS margin
  FROM feats WHERE n_tok > 0 AND n_char > 0
)
SELECT doc_id, source, n_tok, n_stop, n_punct, margin
FROM margins WHERE margin >= 0
"""


@register(
    "quality_linear_gate_exact", oracle=_quality_gate_oracle, tags=("text", "ml")
)
def quality_linear_gate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed linear quality filter with an EXACT integer decision
    (module comment above): fixed milli-unit coefficients, denominators
    cleared, one int64 comparison per doc — the gated-decision twin of
    quality_model_filter's float threshold. Pure Column math at scan
    time, one narrow filter, no shuffle (the output is the kept rows)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    low = F.lower(F.col("text"))
    feats = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, X._in_stopwords)).cast("long").alias("n_stop"),
        F.length(low).cast("long").alias("n_char"),
        F.length(F.regexp_replace(low, r"[a-z0-9\s]", ""))
        .cast("long")
        .alias("n_punct"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_char") > 0))
    margin = (
        F.lit(_QG["b0"] - _QG["theta"]) * F.col("n_tok") * F.col("n_char") * 100
        + F.lit(_QG["b_stop"]) * F.col("n_stop") * F.col("n_char") * 100
        + F.lit(_QG["b_punct"]) * F.col("n_punct") * F.col("n_tok") * 100
        + F.lit(_QG["b_len"])
        * F.least(F.col("n_tok"), F.lit(100))
        * F.col("n_tok")
        * F.col("n_char")
    )
    return (
        feats.withColumn("margin", margin.cast("long"))
        .filter(F.col("margin") >= 0)
        .select("doc_id", "source", "n_tok", "n_stop", "n_punct", "margin")
    )


_det_sample_oracle = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s1')) AS rn
  FROM documents)
SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 5
"""


@register("deterministic_sample_per_source", oracle=_det_sample_oracle, tags=("text",))
def deterministic_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed per-stratum sampling: keep the 5 docs per
    source with the smallest md5(doc_id || salt) — a hash-priority
    reservoir that is reproducible across engines, runs, re-shards and
    cluster sizes (sampleBy's seeded Bernoulli is partition-dependent;
    this is data-dependent only). Change the salt to draw an
    independent sample. The per-group top-k compiles to the windowed
    rank-limit — partial per partition, never a global sort."""
    from hpat_jl_spark.operators.windowed import top_k_per_group

    docs = load_table(spark, "documents", sf_dir)
    prioritized = docs.withColumn(
        "__pri", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":s1")))
    )
    return top_k_per_group(prioritized, "source", [F.col("__pri")], 5).select(
        "source", "doc_id", "n_chars"
    )


_prefix_jaccard_oracle = """
WITH toks AS (SELECT doc_id,
                     list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM documents WHERE doc_id < 300)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.w, b.w))::DOUBLE
             / len(list_distinct(a.w || b.w)), 4) AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.w, b.w))::DOUBLE
      / len(list_distinct(a.w || b.w)) >= 0.3
"""


@register("prefix_filter_similarity", oracle=_prefix_jaccard_oracle, tags=("dedup",))
def prefix_filter_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (ppjoin blocking:
    rare-first token order, prefix-token candidate join, exact verify)
    — zero false negatives by construction, so the result must equal
    the oracle's brute-force all-pairs Jaccard exactly. The LSH family
    (dedup_minhash) trades that guarantee for candidate volume; this
    keeps it while still never materializing the cross product."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 300)
    return D.prefix_filter_jaccard(docs, threshold=0.3)


_repetition_oracle = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS s(i)
  WHERE len(t) >= 5
), per_doc AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_grams,
         count(DISTINCT gram)::BIGINT AS n_distinct
  FROM grams GROUP BY doc_id
)
SELECT doc_id, n_grams,
       round((n_grams - n_distinct) / n_grams::DOUBLE, 6) AS dup_gram_frac
FROM per_doc
"""


@register("repetition_quality", oracle=_repetition_oracle, tags=("text",))
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal (Rae et al. 2021 §A1.1:
    documents whose duplicate-5-gram fraction is high are boilerplate /
    spam): per document, the fraction of word 5-grams that are repeats
    of an earlier 5-gram in the same document.

    Plan: tokens → 5-grams entirely JVM-side (transform over a
    sequence of slice offsets — a single-arg lambda, see the
    F.transform two-arg trap in CLAUDE.md), then ONE explode +
    groupBy(doc_id) counting total vs approx-free exact distinct
    grams. The gram stream shuffles keyed on doc_id only (no global
    vocabulary state), so the op scales linearly with corpus size —
    the shape a 100 TB quality-filter pass needs. Docs shorter than 5
    tokens are excluded (no 5-grams → no signal), matching the oracle's
    WHERE len(t) >= 5."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 5)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 5),
                lambda i: F.array_join(F.slice("t", i + 1, 5), " "),
            )
        ).alias("gram"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        F.round(
            (F.col("n_grams") - F.col("n_distinct"))
            / F.col("n_grams").cast("double"),
            6,
        ).alias("dup_gram_frac"),
    )


_top_ngram_oracle = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, len(t) AS n_tokens,
         array_to_string(t[i:i+1], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
), counted AS (
  SELECT doc_id, n_tokens, gram, count(*) AS c
  FROM grams GROUP BY 1, 2, 3
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       round(max(c) * 2.0 / n_tokens, 6) AS top_bigram_frac
FROM counted GROUP BY doc_id, n_tokens
"""


@register("top_ngram_fraction", oracle=_top_ngram_oracle, tags=("text",))
def top_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second Gopher repetition signal (Rae et al. 2021 §A1.1:
    documents dominated by one repeated n-gram are templated spam): per
    document, the fraction of tokens covered by the single most
    frequent word 2-gram (occurrences × 2 / n_tokens; token-based
    variant of the paper's character fraction, documented here so the
    oracle pins the exact definition).

    Plan: 2-grams JVM-side, one explode, then groupBy(doc, gram) →
    groupBy(doc) max — two shuffles both keyed on doc_id (the second
    input is already tiny: one row per distinct gram). The max is
    tie-independent, so the output is deterministic without naming
    which gram won."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 2)
    grams = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.array_join(F.slice("t", i + 1, 2), " "),
            )
        ).alias("gram"),
    )
    counted = grams.groupBy("doc_id", "n_tokens", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counted.groupBy("doc_id", "n_tokens").agg(
        F.round(F.max("c") * 2.0 / F.col("n_tokens"), 6).alias(
            "top_bigram_frac"
        )
    )


# Integer profile-count scoring (not log-probs) keeps the argmax exact:
# both engines sum the same integers, so no fp boundary can flip a
# prediction between Spark and DuckDB. Ties break toward the smallest
# lang code on both sides.
_lang_id_oracle = """
WITH prefix AS (
  SELECT doc_id, lang, substr(text, 1, 200) AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, substr(t, i::INT, 3) AS g
  FROM prefix, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
profile AS (
  SELECT lang AS plang, g, count(*)::BIGINT AS c,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g ASC) AS r
  FROM grams GROUP BY lang, g
),
topk AS (SELECT plang, g, c FROM profile WHERE r <= 50),
scores AS (
  SELECT gr.doc_id, gr.lang, tk.plang, sum(tk.c)::BIGINT AS score
  FROM grams gr JOIN topk tk ON gr.g = tk.g
  GROUP BY gr.doc_id, gr.lang, tk.plang
),
pred AS (
  SELECT doc_id, lang, plang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
  FROM scores
)
SELECT lang, plang AS predicted_lang, count(*)::BIGINT AS n
FROM pred WHERE rn = 1 GROUP BY lang, plang
"""


@register(
    "lang_id_ngram", oracle=_lang_id_oracle, tags=("text", "headline", "prepared")
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language identification (Cavnar-Trenkle 1994
    profile matching, simplified): per-lang character-trigram profiles
    are built from the labeled corpus (top-50 trigrams by count, rank
    ties broken by gram), each document's first 200 chars are scored by
    the summed profile counts of its trigrams under every lang, and the
    argmax lang wins (score desc, lang asc). Output: (lang,
    predicted_lang, n) confusion counts.

    Scores are INTEGER sums, so the cross-engine argmax is exact — no
    log-prob fp boundaries (contrast ml_naive_bayes_lang, whose class
    scores are separated at O(1e-1)).

    Scale shape: trigram explode is linear in bytes and stays in
    whole-stage codegen, and the exploded grams are PERSISTED because
    both the profile pass and the scoring pass consume them — without
    the cache the corpus is scanned and exploded twice (measured 9.9s
    cold / 2.8s warm at sf0.1; 3.9s / 2.5s cached); the profile is
    5 langs x 50 trigrams -> one broadcast; scoring is a broadcast
    equi-join on the gram (zero shuffle) followed by one doc-keyed
    partial agg; the confusion rollup is 25 rows. A doc shorter than 3
    chars yields no trigrams and drops out on both sides (inner-join
    semantics)."""
    docs = load_table(spark, "documents", sf_dir)
    # r12: pin the fan-out of the prefix stream BEFORE the explode +
    # persist — the single-row-group fixture caps the scan at 1 split,
    # so the cache used to fill with ONE partition and every consumer
    # (profile pass AND scoring pass) inherited single-task stages
    # (profiled 212 ms + 412 ms single-task of a 1.26 s steady run at
    # sf0.1). The exchange carries only (doc_id, lang, 200-char
    # prefix) — the narrowest projection, guide §2.3 — and the width
    # is the byte-sized r9 rule.
    width = pinned_width(spark, sf_dir)
    prefix = docs.select(
        "doc_id", "lang", F.substring("text", 1, 200).alias("t")
    ).repartition(width, "doc_id")
    grams = prefix.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(F.length("t") < 3, F.array().cast("array<string>")).otherwise(
                F.expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")
            )
        ).alias("g"),
    ).persist()
    from pyspark.sql import Window

    profile = (
        grams.groupBy(F.col("lang").alias("plang"), "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("plang").orderBy(F.desc("c"), F.asc("g"))
            ),
        )
        .filter(F.col("r") <= 50)
        .drop("r")
    )
    scores = (
        grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.sum("c").alias("score"))
    )
    # per-doc argmax as a lexicographic struct-MIN hash aggregate
    # (r6; was a row_number window): min(struct(-score, plang)) ==
    # ORDER BY score DESC, plang ASC because score is an exact integer
    # sum. A hash agg partial-aggregates map-side and never sorts the
    # score stream — the window's per-partition sort was the only
    # sort left in the plan.
    pred = scores.groupBy("doc_id", "lang").agg(
        F.min(
            F.struct((-F.col("score")).alias("ns"), F.col("plang").alias("plang"))
        ).alias("m")
    )
    # no explicit unpersist: the plan is lazy, so dropping the cache
    # here would beat the scoring job to it; reclaim is block eviction
    # or the harnesses' clearCache, not GC (r6 correction — a
    # Dataset.persist entry outlives the frame)
    return pred.groupBy("lang", F.col("m.plang").alias("predicted_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register("udtf_document_chunks", oracle=_chunk_oracle, tags=("text", "udf"))
def udtf_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 UDTF surface: the same token-window chunking as
    `document_chunks` (size 50, stride 25, md5 identity) computed by an
    ARROW-OPTIMIZED Python table function in a LATERAL join, sharing
    document_chunks' oracle — so the UDTF path is hash-checked against
    both DuckDB and (transitively) the JVM explode/slice plan. This is
    the honest mapping of the reference's designed-only flatten/countmap
    closures over grouped arrays (examples/queries_devel/q01.jl, q02.jl
    — compiled generators the reference's compiler never implemented).

    The built-in explode/slice plan remains the production path (UDFs
    are the slow path); the UDTF exists for generator logic Column
    algebra can't express. Arrow transfer is REQUIRED here (useArrow=
    True on the decorator — the session conf alone does not flip 4.1's
    planner): without it the plan contains BatchEvalPythonUDTF, which
    scripts/plan_lint.py rejects as row-at-a-time Python."""
    import hashlib
    import re
    import uuid as _uuid

    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_start bigint, n_chunk_tokens bigint, "
            "chunk_hash string"
        ),
        useArrow=True,
    )
    class ChunkDocs:
        def eval(self, doc_id, text):
            toks = re.split(r"\s+", text.strip())
            n = len(toks)
            for s in range(1, max(n - 49, 1) + 1, 25):
                window = toks[s - 1 : s - 1 + 50]
                yield (
                    doc_id,
                    s,
                    len(window),
                    hashlib.md5(" ".join(window).encode()).hexdigest(),
                )

    fn = f"chunk_docs_{_uuid.uuid4().hex[:12]}"
    view = f"documents_{_uuid.uuid4().hex[:12]}"
    spark.udtf.register(fn, ChunkDocs)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT c.doc_id, c.chunk_start, c.n_chunk_tokens, c.chunk_hash "
        f"FROM {view}, LATERAL {fn}(doc_id, text) c"
    )


def _bpe_train_oracle(num_merges: int, max_words: int = 65536) -> str:
    parts = [
        f"""
wc AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
  QUALIFY row_number() OVER (ORDER BY freq DESC, w) <= {max_words}
),
s0 AS MATERIALIZED (
  SELECT w, freq, i.i - 1 AS pos, substr(w, i.i, 1) AS sym
  FROM wc, LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) i
  UNION ALL
  SELECT w, freq, length(w) AS pos, '</w>' AS sym FROM wc
)"""
    ]
    for r in range(num_merges):
        parts.append(
            f"""
pc{r} AS MATERIALIZED (
  SELECT a.sym AS l, b.sym AS r2, sum(a.freq) AS c
  FROM s{r} a JOIN s{r} b ON a.w = b.w AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (SELECT l, r2 FROM pc{r} ORDER BY c DESC, l, r2 LIMIT 1),
m{r} AS MATERIALIZED (
  SELECT a.w, a.freq, a.pos, a.sym,
         CASE WHEN b.sym IS NOT NULL
              AND a.sym = (SELECT l FROM best{r})
              AND b.sym = (SELECT r2 FROM best{r}) THEN 1 ELSE 0 END AS is_m
  FROM s{r} a LEFT JOIN s{r} b ON a.w = b.w AND b.pos = a.pos + 1
),
g{r} AS MATERIALIZED (
  SELECT w, freq, pos, sym,
         CASE WHEN is_m = 1 AND
              (row_number() OVER (PARTITION BY w, grp_m ORDER BY pos) - 1) % 2 = 0
         THEN 1 ELSE 0 END AS do_m
  FROM (
    SELECT *, CASE WHEN is_m = 1
                   THEN pos - row_number() OVER (PARTITION BY w, is_m ORDER BY pos)
              END AS grp_m
    FROM m{r})
),
s{r + 1} AS MATERIALIZED (
  SELECT g.w, g.freq,
         row_number() OVER (PARTITION BY g.w ORDER BY g.pos) - 1 AS pos,
         CASE WHEN g.do_m = 1
              THEN (SELECT l FROM best{r}) || (SELECT r2 FROM best{r})
              ELSE g.sym END AS sym
  FROM g{r} g
  LEFT JOIN g{r} prev
    ON prev.w = g.w AND prev.pos = g.pos - 1 AND prev.do_m = 1
  WHERE prev.w IS NULL
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS merge_rank, l AS left, r2 AS right FROM best{r}"
        for r in range(num_merges)
    )
    return "WITH " + ",".join(parts) + "\n" + sel


def _bpe_train_ctes(num_merges: int) -> tuple[str, str]:
    """(CTE body, merge-list SELECT) of :func:`_bpe_train_oracle`, for
    oracles that COMPOSE with the trained merge table (encode)."""
    full = _bpe_train_oracle(num_merges)
    body, sel = full[len("WITH ") :].rsplit(")\n", 1)
    return body + ")", sel


def _bpe_encode_trained_oracle(num_merges: int = 64) -> str:
    """DuckDB twin of bpe_encode_trained: the full 64-round training
    replay feeds a RECURSIVE chained-replace encode — per document,
    iteration k applies merge k as the literal replace
    ' l r ' → ' lr ' (leftmost non-overlapping in both engines, the
    bpe_encode_fixed semantics), so a bug anywhere in train OR encode
    breaks the hash."""
    body, sel = _bpe_train_ctes(num_merges)
    return f"""WITH RECURSIVE {body},
merges AS MATERIALIZED ({sel}),
d0 AS MATERIALIZED (
  SELECT doc_id, len(words)::BIGINT AS n_words,
         ' ' || array_to_string(list_transform(words, w ->
             array_to_string(list_transform(range(1, length(w) + 1),
                                            i -> substr(w, i, 1)), ' ')
             || ' </w>'), ' ') || ' ' AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           w -> w <> '') AS words
        FROM documents)
),
e(iter, doc_id, n_words, s) AS (
  SELECT 0, doc_id, n_words, s FROM d0
  UNION ALL
  SELECT e.iter + 1, e.doc_id, e.n_words,
         replace(e.s, ' ' || m."left" || ' ' || m."right" || ' ',
                 ' ' || m."left" || m."right" || ' ')
  FROM e JOIN merges m ON m.merge_rank = e.iter
  WHERE e.iter < {num_merges}
)
SELECT doc_id, n_words,
       len(regexp_extract_all(s, '[^ ]+'))::BIGINT AS n_subwords
FROM e WHERE iter = {num_merges}
"""


def _bpe_train_full_oracle() -> str:
    # The full 64-round unrolled replay costs DuckDB ~5 s at sf0.1 —
    # affordable, so the PRODUCTION training run is gated, not just the
    # 8-round bounded twin.
    return _bpe_train_oracle(64)


@register(
    "bpe_encode_trained",
    oracle=_bpe_encode_trained_oracle(64),
    tags=("text", "ml", "headline"),
)
def bpe_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 64 BPE merges on the corpus, then encode the corpus with
    them — the full tokenizer lifecycle under ONE value hash (r5;
    bpe_encode_stats' priority-order encode gated separately since r8).
    Encode
    semantics are bpe_encode_fixed's chained leftmost-non-overlapping
    replaces, identical in Spark (F.replace) and DuckDB (replace); for
    a SELF-trained merge list that equals priority-order encoding
    except on overlapping same-pair runs (' a b a b '), which both
    engines resolve identically here. Output: (doc_id, n_words,
    n_subwords).

    Scale shape: training is the gated bounded-vocab loop; encoding is
    one codegen'd projection (the 64 replaces and the word render
    never leave the JVM) over ONE pinned byte-light
    repartition(width, doc_id) of the bare (doc_id, text) stream —
    r12: the single-row-group fixture caps the scan at 1 split, which
    serialized the 64-replace encode on one thread (profiled: 1.47 s
    of a 2.04 s steady run in ONE task at sf0.1). Same rationale as
    bpe_encode_fixed: the exchange moves raw text once while the
    encode costs ~100 CPU-bytes per input byte, so it is a few
    percent of the stage at any scale; width is the byte-sized r9
    rule. train_bpe keeps its own unpinned scan (its word-count agg
    already fans out through the groupBy exchange)."""
    from hpat_jl_spark.functions.bpe import train_bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = train_bpe(docs, num_merges=64, max_words=65536)
    width = pinned_width(spark, sf_dir)
    docs = docs.select("doc_id", "text").repartition(width, "doc_id")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""
    )
    spaced = F.transform(
        words,
        lambda w: F.concat(
            F.trim(F.regexp_replace(w, "(.)", "$1 ")), F.lit(" </w>")
        ),
    )
    s = F.concat(F.lit(" "), F.array_join(spaced, " "), F.lit(" "))
    for left, right in merges:
        s = F.replace(
            s, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(s, F.lit("[^ ]+"), 0))
        .cast("long")
        .alias("n_subwords"),
    )


@register(
    "bpe_train_merges", oracle=_bpe_train_full_oracle(), tags=("text", "ml", "headline")
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the corpus (functions/bpe: distributed
    word count → bounded-vocab driver merge loop — the subword-nmt /
    HF-tokenizers architecture). Output: (merge_rank, left, right) in
    learned order. FULLY value-hash gated since r5: the oracle replays
    all 64 merge rounds as a generated unrolled CTE (see the
    bpe_train_bounded module comment — same generator, 64 rounds,
    ~5 s in DuckDB). Determinism additionally exercised by the sweep
    (no RNG — ties break lexicographically) and the Sennrich-fixture
    golden in tests/test_bpe.py."""
    from hpat_jl_spark.functions.bpe import train_bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = train_bpe(docs, num_merges=64, max_words=65536)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank long, left string, right string",
    )


def _bpe_encode_stats_oracle(num_merges: int = 64) -> str:
    """DuckDB twin of bpe_encode_stats' PRIORITY-ORDER encode
    (VERDICT r07 #6 — this closed the last rows-only BPE query).

    Key fact making the priority loop SQL-expressible: for a
    SELF-trained merge list, every merge's component symbols are
    created only by strictly-earlier merges, so a later merge can
    never create an instance of an earlier-rank pair. Hence
    priority-order encoding (always apply the lowest-rank applicable
    merge, leftmost first — functions/bpe.apply_merges) equals
    applying the merges ONCE EACH in rank order with symbol-level
    greedy leftmost non-overlapping replacement — which is exactly
    what the training replay's s0..s{{N}} symbol-table chain already
    computes over the capped vocabulary (the gaps-and-islands greedy
    merge). s{{N}} therefore IS the priority encoding of every vocab
    word, mirroring the Arrow kernel's per-word memoization: count
    subwords per DISTINCT word, join back to the exploded corpus, sum
    per doc. (tests/test_bpe.py property-checks the priority==rank-
    order equivalence on randomized self-trained merge lists; the
    space-string chained replace of bpe_encode_trained is the variant
    that DIVERGES on overlapping same-pair runs, because consecutive
    run matches share their delimiter space.)

    Precondition: the corpus vocabulary fits the 65536-word training
    cap, so every word's encoding appears in s{{N}} (the fixtures have
    31 distinct words at every sf; a capped deployment would keep the
    kernel for tail words — the oracle gates the checked regime)."""
    body, _sel = _bpe_train_ctes(num_merges)
    return f"""WITH {body},
sub AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS n_sub FROM s{num_merges} GROUP BY w
),
dw AS MATERIALIZED (
  SELECT doc_id, unnest(list_filter(
      regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
  FROM documents
),
agg AS (
  SELECT dw.doc_id, count(*)::BIGINT AS n_words,
         sum(sub.n_sub)::BIGINT AS n_subwords
  FROM dw JOIN sub USING (w) GROUP BY dw.doc_id
)
SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
       coalesce(a.n_subwords, 0)::BIGINT AS n_subwords
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register(
    "bpe_encode_stats",
    oracle=_bpe_encode_stats_oracle(64),
    tags=("text", "ml", "headline"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with its own trained BPE merges and report
    per-doc word vs subword counts (the compression the tokenizer
    buys). Train = bounded driver loop; encode = broadcast merge table
    into an Arrow kernel with per-batch word memoization. Oracle since
    r8 (was rows-only): the training replay's final symbol table is
    the priority encoding of every vocab word — see
    _bpe_encode_stats_oracle for the equivalence argument; exact
    small-vocab goldens stay pinned in tests/test_bpe.py."""
    from hpat_jl_spark.functions.bpe import bpe_encode_stats as encode
    from hpat_jl_spark.functions.bpe import train_bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = train_bpe(docs, num_merges=64, max_words=65536)
    return encode(docs, merges)


# ---- hash-gated quality-model training ----
# quality_model_filter's MLlib L-BFGS fit is rows-only; this query puts
# the TRAINING under the value-hash gate, the 3-feature generalization
# of ml_logreg_purchase's Newton-refit pattern (plans/ml_kernels.py):
# the logistic MLE is unique, so Spark's L-BFGS and a DuckDB Newton
# refit land on the same coefficients to far below the 3dp rounding.
# Three design points make that possible:
# - the teacher label (quality_score > 0.55) is a DETERMINISTIC
#   function of the features, i.e. (near-)separable — the MLE would
#   diverge and no two optimizers would agree. 10% of labels are
#   flipped by portable_hash(doc_id) (deterministic, replayed exactly
#   by the oracle) — the honest shape of weak supervision anyway.
# - L2 ridge (lambda=0.1, intercept unpenalized, standardization off)
#   on BOTH sides: the fixture features are nearly collinear at small
#   SF (punct_ratio is almost constant), so the unregularized Hessian
#   is near-singular — Newton diverged to NULL and L-BFGS wandered to
#   +/-45 coefficients. The ridge makes the optimum finite, unique and
#   well-conditioned at every SF; the penalty term is part of the
#   declared objective, identically on both engines.
# - the 4x4 Newton solve in SQL is generated symbolically below
#   (cofactor adjugate over permutation signs), not hand-written.
_QMC_L2 = 0.1
def _newton4_delta_sql() -> list[str]:
    """delta_i = (adj(H) g)_i / det(H) for symmetric 4x4 H named
    h00..h33 (hij, i<=j) and gradient g0..g3."""
    import itertools

    def h(i: int, j: int) -> str:
        return f"h{min(i, j)}{max(i, j)}"

    def sign(perm: tuple[int, ...]) -> int:
        s = 1
        for a in range(len(perm)):
            for b in range(a + 1, len(perm)):
                if perm[a] > perm[b]:
                    s = -s
        return s

    def det(rows: list[int], cols: list[int]) -> str:
        terms = []
        for perm in itertools.permutations(range(len(cols))):
            prod = "*".join(h(rows[k], cols[perm[k]]) for k in range(len(rows)))
            terms.append(("+ " if sign(perm) > 0 else "- ") + prod)
        return "(" + " ".join(terms) + ")"

    full = det([0, 1, 2, 3], [0, 1, 2, 3])
    deltas = []
    for i in range(4):
        parts = []
        for j in range(4):
            rows = [r for r in range(4) if r != j]
            cols = [c for c in range(4) if c != i]
            cof = det(rows, cols)
            s = "+" if (i + j) % 2 == 0 else "-"
            parts.append(f"{s} g{j} * {cof}")
        deltas.append("(" + " ".join(parts) + ") / " + full)
    return deltas


def _qmc_feats_sql() -> str:
    return f"""
  SELECT 1.0 AS x0,
         len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE / len(toks) AS x1,
         length(regexp_replace(lowered, '[a-z0-9\\s]', '', 'g'))::DOUBLE
           / length(lowered) AS x2,
         least(len(toks) / 100.0, 1.0) AS x3,
         CASE WHEN (('0x' || substr(md5('qmc:' || doc_id::VARCHAR), 1, 15))::BIGINT
                    % 10 = 0)
              THEN 1.0 - teacher ELSE teacher END AS y
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(text), '\\s+') AS toks,
           lower(text) AS lowered,
           CASE WHEN 0.4 * least(
                    (len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     x -> x IN ({_STOP_SQL})))::DOUBLE
                     / len(regexp_split_to_array(trim(text), '\\s+'))) * 5.0, 1.0)
                + 0.3 * (1.0 - length(regexp_replace(lower(text), '[a-z0-9\\s]',
                                                     '', 'g'))::DOUBLE
                               / length(lower(text)))
                + 0.3 * least(len(regexp_split_to_array(trim(text), '\\s+'))
                              / 100.0, 1.0) > 0.55
           THEN 1.0 ELSE 0.0 END AS teacher
    FROM documents
  )"""


def _quality_coefs_oracle() -> str:
    d0, d1, d2, d3 = _newton4_delta_sql()
    g_h_sums = """
           count(*)::DOUBLE         AS nn,
           sum(p.p - p.y)          AS g0r,
           sum((p.p - p.y) * p.x1) AS g1r,
           sum((p.p - p.y) * p.x2) AS g2r,
           sum((p.p - p.y) * p.x3) AS g3r,
           sum(p.w)                 AS h00,
           sum(p.w * p.x1)          AS h01,
           sum(p.w * p.x2)          AS h02,
           sum(p.w * p.x3)          AS h03,
           sum(p.w * p.x1 * p.x1)   AS h11r,
           sum(p.w * p.x1 * p.x2)   AS h12,
           sum(p.w * p.x1 * p.x3)   AS h13,
           sum(p.w * p.x2 * p.x2)   AS h22r,
           sum(p.w * p.x2 * p.x3)   AS h23,
           sum(p.w * p.x3 * p.x3)   AS h33r"""
    sig = "1.0 / (1.0 + exp(-(f.b0 + f.b1 * x1 + f.b2 * x2 + f.b3 * x3)))"
    # ridge: gradient += n*lambda*b_j, Hessian_jj += n*lambda (j >= 1;
    # the intercept is unpenalized) — the n* scale matches Spark ML's
    # (1/n)*logloss + lambda/2*||w||^2 objective multiplied through by n
    return f"""WITH RECURSIVE
pts AS ({_qmc_feats_sql()}),
fit(iter, b0, b1, b2, b3) AS (
  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
  UNION ALL
  SELECT iter + 1,
         b0 - ({d0}), b1 - ({d1}), b2 - ({d2}), b3 - ({d3})
  FROM (
    SELECT iter, b0, b1, b2, b3,
           g0r AS g0,
           g1r + {_QMC_L2} * nn * b1 AS g1,
           g2r + {_QMC_L2} * nn * b2 AS g2,
           g3r + {_QMC_L2} * nn * b3 AS g3,
           h00, h01, h02, h03, h12, h13, h23,
           h11r + {_QMC_L2} * nn AS h11,
           h22r + {_QMC_L2} * nn AS h22,
           h33r + {_QMC_L2} * nn AS h33
    FROM (
      SELECT f.iter, f.b0, f.b1, f.b2, f.b3,{g_h_sums}
      FROM fit f, LATERAL (
        SELECT x1, x2, x3, y,
               {sig} AS p,
               ({sig}) * (1.0 - {sig}) AS w
        FROM pts
      ) p
      WHERE f.iter < 25
      GROUP BY f.iter, f.b0, f.b1, f.b2, f.b3
    )
  )
)
SELECT round(b1, 3) AS coef_stopword,
       round(b2, 3) AS coef_punct,
       round(b3, 3) AS coef_len,
       round(b0, 3) AS intercept
FROM fit WHERE iter = 25
"""


@register(
    "quality_model_coefs", oracle=_quality_coefs_oracle(), tags=("text", "ml")
)
def quality_model_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 3-feature quality classifier and hash-gate its
    COEFFICIENTS (module comment above): distributed L-BFGS on Spark,
    4x4-Newton refit in the oracle, both converging to the unique MLE
    of the noise-broken weak-label problem far inside 3dp. The scoring/
    keep-rate query (quality_model_filter) stays rows-only — its gate
    compares model scores at a threshold, where a last-ulp coefficient
    difference could legitimately flip a boundary doc.

    Known fragility (ADVICE r04): the gate compares two different float
    optimizers on exact 3dp equality, which is sound only while every
    coefficient sits clear of a 0.0005 rounding boundary. That margin
    is ASSERTED per fixture in tests/test_ml.py
    (test_quality_model_coefs_rounding_margin) — if a future scale
    factor lands a coefficient within 1e-5 of a boundary (10x the
    optimizers' mutual agreement), the margin test fails with a
    'tolerance, not regression' message instead of the hash flaking
    silently."""
    raw = fit_quality_model_raw(spark, sf_dir)
    return spark.createDataFrame(
        [tuple(round(v, 3) for v in raw)],
        "coef_stopword double, coef_punct double, coef_len double, intercept double",
    )


def fit_quality_model_raw(spark: SparkSession, sf_dir: str) -> tuple:
    """The quality_model_coefs fit, returning UNROUNDED
    (coef_stopword, coef_punct, coef_len, intercept) — shared by the
    registered plan and the rounding-margin assertion in
    tests/test_ml.py."""
    from pyspark.ml.classification import LogisticRegression as MLLogReg

    from hpat_jl_spark.functions.dedup import portable_hash
    from hpat_jl_spark.ml.kernels import assemble_features

    docs = load_table(spark, "documents", sf_dir)
    teacher = (X.quality_score("text") > 0.55).cast("double")
    flip = (
        portable_hash(F.concat(F.lit("qmc:"), F.col("doc_id").cast("string")))
        % 10
        == 0
    )
    feats = docs.select(
        X.stopword_ratio("text").alias("f_stop"),
        X.punct_ratio("text").alias("f_punct"),
        F.least(X.token_count("text").cast("double") / 100.0, F.lit(1.0)).alias(
            "f_len"
        ),
        F.when(flip, 1.0 - teacher).otherwise(teacher).alias("label"),
    )
    assembled = assemble_features(feats, ["f_stop", "f_punct", "f_len"])
    model = MLLogReg(
        featuresCol="features",
        labelCol="label",
        maxIter=500,
        tol=1e-12,
        regParam=_QMC_L2,
        elasticNetParam=0.0,
        standardization=False,
    ).fit(assembled)
    c = model.coefficients
    return (
        float(c[0]),
        float(c[1]),
        float(c[2]),
        float(model.intercept),
    )


# ---- hash-gated BPE encoding under a FIXED merge table ----
# (Historical note: bpe_train_merges / bpe_encode_stats started
# rows-only; the train replay gained its unrolled-CTE oracle in r5 and
# the stats encode its s64-lookup oracle in r8 — see
# _bpe_encode_stats_oracle.) Encoding under a FROZEN merge list,
# though, is pure string algebra both engines share: render each word
# as space-separated characters + ' </w>', then apply the merges in
# rank order as plain replace(' l r ' -> ' lr ') — replace() is
# leftmost-non-overlapping in Spark and DuckDB alike, which is exactly
# BPE's single-pass merge application, and no merge has '</w>' as its
# LEFT symbol so pairs can never match across a word boundary. The
# merge table below is the top-16 output of this repo's own
# bpe_train_merges on the sf0.01 documents fixture (Sennrich-style
# </w> markers), frozen as the model artifact a production encoder
# would load.
_BPE_FIXED_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
]


def _bpe_fixed_oracle() -> str:
    expr = ("' ' || regexp_replace(regexp_replace(trim(regexp_replace("
            "lower(text), '[^a-z ]', '', 'g')), ' +', ' ', 'g'),"
            " '(.)', '\\1 ', 'g') || '</w> '")
    expr = f"regexp_replace({expr}, ' {{2,}}', ' </w> ', 'g')"
    for l, r in _BPE_FIXED_MERGES:
        expr = f"replace({expr}, ' {l} {r} ', ' {l}{r} ')"
    return f"""
WITH enc AS (
  SELECT doc_id, {expr} AS s
  FROM documents
  WHERE length(trim(regexp_replace(lower(text), '[^a-z ]', '', 'g'))) > 0
)
SELECT doc_id,
       len(regexp_extract_all(s, '[^ ]+'))::BIGINT AS n_symbols,
       len(list_filter(regexp_extract_all(s, '[^ ]+'),
                       x -> x = '</w>'))::BIGINT AS n_bare_markers,
       len(list_filter(regexp_extract_all(s, '[^ ]+'),
                       x -> length(x) > 1 AND x <> '</w>'))::BIGINT
         AS n_merged_symbols
FROM enc
"""


@register(
    "bpe_encode_fixed",
    oracle=_bpe_fixed_oracle(),
    tags=("text", "ml", "headline", "prepared"),
)
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-encode the corpus under the frozen 16-merge table (module
    comment above) and report per-doc symbol accounting — the
    token-budget pass of a training pipeline with the tokenizer pinned,
    fully value-hash gated (the rows-only bpe_* queries cover the
    TRAINING, whose iterative state has no SQL twin).

    Scale shape: one scan, ~20 chained string replaces inside a single
    codegen'd projection, one narrow output; the merge table is a
    compile-time literal exactly like a deployed tokenizer's vocab
    file. r12: the projection reads ONE pinned byte-light
    repartition(width, doc_id) of the bare (doc_id, text) stream — the
    single-row-group fixture caps the scan at 1 split (r7 trap), which
    serialized the whole encode on one thread (profiled 1.28 s of a
    1.59 s steady run in ONE task at sf0.1). The exchange carries only
    the raw text (projection BEFORE the exchange, guide §2.3) while
    the encode costs ~100 CPU-bytes per input byte (char-spacing ~2×
    expansion + 16 sequential whole-string rewrites), so by the §1.3
    napkin math the shuffle is a few percent of the stage at ANY
    scale; width is the byte-sized r9 rule, not a local constant."""
    width = pinned_width(spark, sf_dir)
    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .repartition(width, "doc_id")
    )
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z ]", "")), " +", " "
    )
    spaced = F.concat(
        F.lit(" "), F.regexp_replace(norm, "(.)", "$1 "), F.lit("</w> ")
    )
    s = F.regexp_replace(spaced, " {2,}", " </w> ")
    for l, r in _BPE_FIXED_MERGES:
        s = F.replace(s, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    syms = F.regexp_extract_all(s, F.lit("[^ ]+"), 0)
    return (
        docs.filter(F.length(norm) > 0)
        .select("doc_id", syms.alias("__syms"))
        .select(
            "doc_id",
            F.size("__syms").cast("long").alias("n_symbols"),
            F.size(F.filter("__syms", lambda x: x == "</w>"))
            .cast("long")
            .alias("n_bare_markers"),
            F.size(
                F.filter(
                    "__syms", lambda x: (F.length(x) > 1) & (x != "</w>")
                )
            )
            .cast("long")
            .alias("n_merged_symbols"),
        )
    )


# ---- hash-gated BPE TRAINING (bounded rounds) ----
# bpe_train_merges (64 merges) stays rows-only, but the merge LOOP
# itself is now under the value-hash gate (VERDICT r04 #3): this twin
# replays an 8-round training run as a GENERATED unrolled CTE chain —
# the quality_model_coefs technique (iterative driver state gated by a
# generated SQL program) applied to symbol-table training. Per round r:
#   pc_r    adjacent-pair frequencies over the segmented vocab
#           (self-join on (word, pos+1), weighted by word freq)
#   best_r  argmax by (freq DESC, pair lexicographic) — exactly the
#           python loop's min((-freq, pair)) tiebreak
#   g_r     GREEDY leftmost non-overlapping application: the python
#           scanner merges at i then skips i+1, so within each maximal
#           run of consecutive match positions only EVEN offsets merge
#           — gaps-and-islands (pos - row_number) finds the runs
#   s_{r+1} rows consumed as a merge's right half are anti-joined away;
#           positions renumbered dense by row_number
# All state is exact integers/strings; both engines sort strings in
# codepoint order (binary UTF-8), so ties cannot diverge. 8 rounds × a
# ~200k-row symbol table is trivial for DuckDB; the Spark side runs the
# SAME bounded-vocab driver loop as production training (num_merges is
# the only difference), so a merge-loop bug breaks this hash.
# Every CTE is AS MATERIALIZED: s_{r+1} references g_r twice and g_r
# chains back through m_r/s_r, so plain (inlinable) CTEs replicate the
# base scan ~3^rounds times — measured as a 20k-fd "Too many open
# files" blowup before materialization, 0.24 s after.
_BPE_TRAIN_ROUNDS = 8




@register(
    "bpe_train_bounded",
    oracle=_bpe_train_oracle(_BPE_TRAIN_ROUNDS),
    tags=("text", "ml"),
)
def bpe_train_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING under the value-hash gate (module comment
    above): the production train_bpe loop (distributed word count →
    bounded-vocab driver merge loop) limited to 8 rounds, vs a
    generated unrolled-CTE replay of the same algorithm in DuckDB.
    Output: (merge_rank, left, right) in learned order."""
    from hpat_jl_spark.functions.bpe import train_bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = train_bpe(docs, num_merges=_BPE_TRAIN_ROUNDS, max_words=65536)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank long, left string, right string",
    )


# ---- fuzzy (near-duplicate) benchmark decontamination ----
# benchmark_decontaminate (plans/llm_pipeline.py) drops training docs
# sharing an EXACT n-gram with the eval slice; real contamination is
# often lightly edited, so production pipelines (GPT-3/PaLM appendices)
# also run a FUZZY pass. This is that pass, fully gated: MinHash bands
# generate cross-corpus candidates (training × eval, never the n²
# cross join), then the exact shingle Jaccard is computed per candidate
# and the keep decision is the INTEGER comparison 2·|∩| ≥ |∪| (θ=0.5)
# — no float anywhere in the verdict, so the pair set hash-matches.
# The oracle reuses the dedup_minhash CTE chain (same portable md5
# base hash) and replays candidate generation AND exact verification.
_fuzzy_decon_oracle = f"""
WITH {_minhash_pair_ctes(0.0)},
cross_pairs AS (
  SELECT CASE WHEN id_a % 10 <> 0 THEN id_a ELSE id_b END AS corpus_doc,
         CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS eval_doc
  FROM lsh_pairs
  WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
),
sh AS (
  SELECT DISTINCT id,
         array_to_string(list_slice(w, i, i + 2), ' ') AS s
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS u(i)
),
cnt AS (SELECT id, count(*)::BIGINT AS c FROM sh GROUP BY id),
inter AS (
  SELECT corpus_doc, eval_doc, count(*)::BIGINT AS n_inter
  FROM cross_pairs
  JOIN sh a ON a.id = corpus_doc
  JOIN sh b ON b.id = eval_doc AND b.s = a.s
  GROUP BY 1, 2
)
SELECT corpus_doc, eval_doc, n_inter,
       (ca.c + cb.c - n_inter)::BIGINT AS n_union
FROM inter
JOIN cnt ca ON ca.id = corpus_doc
JOIN cnt cb ON cb.id = eval_doc
WHERE 2 * n_inter >= ca.c + cb.c - n_inter
"""


@register(
    "fuzzy_decontaminate",
    oracle=_fuzzy_decon_oracle,
    tags=("text", "dedup", "llm", "headline", "prepared"),
)
def fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cross-corpus decontamination (module comment
    above): training docs whose exact shingle Jaccard against any eval
    doc (doc_id % 10 == 0, the same stand-in slice
    benchmark_decontaminate uses) is ≥ 0.5, candidates from MinHash
    bands. Output (corpus_doc, eval_doc, n_inter, n_union) — exact
    integers, fully hash-gated.

    Scale shape: candidates come from the band equi-join (the training
    side never meets more than its bucket-mates); the exact verify
    joins shingles only for CANDIDATE pairs, and the final decision is
    integer arithmetic. Same shape at 100 TB with the eval slice being
    the small broadcast side."""
    docs = load_table(spark, "documents", sf_dir)
    # two-sided band join: corpus docs only ever meet EVAL bucket-mates
    # (the corpus-corpus pairs a dedup self-join would emit are never
    # built), and the eval side broadcasts — the corpus is not shuffled
    cross = D.minhash_cross_candidates(
        docs,
        left_pred=lambda id_: id_ % 10 != 0,
        right_pred=lambda id_: id_ % 10 == 0,
        fanout=pinned_width(spark, sf_dir),
    ).select(
        F.col("id_left").alias("corpus_doc"),
        F.col("id_right").alias("eval_doc"),
    )
    toks = docs.select(
        F.col("doc_id").alias("id"), F.split(F.trim("text"), r"\s+").alias("w")
    )
    # r13 (guide §2.3/§2.4): per-doc shingle dedup INSIDE the array —
    # a doc is one row before the explode, so array_distinct is
    # exactly the old `.distinct()` over (id, s) with ZERO shuffle
    # (the removed exchange shipped ~3× the text bytes; same class as
    # benchmark_decontaminate's gram dedup). Interleaved min-of-3/2:
    # sf0.1 2.40 → 2.19 s, ×10 6.99 → 4.51 s, ×100 39.0 → 32.8 s,
    # output identical (exceptAll both ways empty in-run).
    sh = toks.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("w") - 2, F.lit(1))),
                    lambda i: F.array_join(F.slice("w", i, 3), " "),
                )
            )
        ).alias("s"),
    )
    cnt = sh.groupBy("id").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        cross.join(
            sh.select(F.col("id").alias("corpus_doc"), "s"), "corpus_doc"
        )
        .join(
            sh.select(F.col("id").alias("eval_doc"), "s"), ["eval_doc", "s"]
        )
        .groupBy("corpus_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            cnt.select(F.col("id").alias("corpus_doc"), F.col("c").alias("ca")),
            "corpus_doc",
        )
        .join(
            cnt.select(F.col("id").alias("eval_doc"), F.col("c").alias("cb")),
            "eval_doc",
        )
        .filter(
            F.lit(2) * F.col("n_inter")
            >= F.col("ca") + F.col("cb") - F.col("n_inter")
        )
        .select(
            "corpus_doc",
            "eval_doc",
            "n_inter",
            (F.col("ca") + F.col("cb") - F.col("n_inter")).alias("n_union"),
        )
    )
