"""LLM training-data pipeline queries the reference never had but a
100 TB corpus build needs: benchmark decontamination, PII scrubbing,
vocabulary heavy hitters, TF-IDF term weighting and an inverted index.
All plans are pure built-in-function compositions (zero Python in the
hot path) and every one is DuckDB-oracle-checked.

These extend the SURVEY.md extension layer (BASELINE.json north star)
the same way plans/text_pipeline.py does; the reference analogue is its
generic filter/join/aggregate surface (SURVEY §2.2-2.4) composed into
corpus-preparation shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hpat_jl_spark.registry import register
from hpat_jl_spark.tables import doc_text_stream, load_table


def _word_grams(
    df: DataFrame, n: int, distinct_within_doc: bool = False
) -> DataFrame:
    """(doc_id, gram) word n-grams, JVM-side (transform over slice
    offsets — single-arg lambda only, see the F.transform two-arg trap
    in CLAUDE.md). Docs shorter than n tokens yield no grams.

    ``distinct_within_doc`` (r13, guide §2.3/§2.4): a doc is ONE row
    before the explode, so ``array_distinct`` on the gram array is
    EXACTLY ``.distinct()`` over (doc_id, gram) — with zero shuffle.
    The old ``_word_grams(...).distinct()`` exchanged the full gram
    stream (~4× the text bytes at n=4; 53.9 MB at the ×10 tier,
    1019 MB at ×100 in SHUFFLE.md) to dedupe pairs whose key is
    entirely local to one row. Map-side-exact dedup is the shape that
    survives 100 TB: the only remaining corpus-sized exchange in
    benchmark_decontaminate's plan is the final per-doc aggregate."""
    toks = df.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.array_join(F.slice("t", i + 1, n), " "),
    )
    if distinct_within_doc:
        grams = F.array_distinct(grams)
    return toks.select("doc_id", F.explode(grams).alias("gram"))


_decontaminate_oracle = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 3)) AS s(i)
  WHERE len(t) >= 4
), eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
)
SELECT g.doc_id, count(*)::BIGINT AS n_shared_grams
FROM grams g JOIN eval_grams e USING (gram)
WHERE g.doc_id % 10 <> 0
GROUP BY g.doc_id
"""


@register(
    "benchmark_decontaminate",
    oracle=_decontaminate_oracle,
    tags=("text", "dedup", "headline", "prepared"),
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Llama pretraining
    hygiene): flag training documents that share any word n-gram with a
    held-out evaluation set, so eval answers can't leak into training.
    Production uses 13-grams; the fixture docs are ~30-token word soup,
    so n=4 keeps the overlap signal non-degenerate (75/450 docs at
    sf0.01). Eval set = doc_id % 10 == 0 stands in for the benchmark.

    Plan: one gram build (explode, deduped per doc), split into
    train/eval sides by a pushed-down filter, equi-join on the gram
    string, count shared grams per train doc. The eval side of a real
    decontamination pass is a FIXED-size benchmark (thousands of docs,
    not O(corpus)), so AQE will broadcast it; no forced hint here
    because in this fixture it is O(sf) (broadcast-hint policy,
    README). Shuffle volume is bounded by the gram stream — the same
    linear shape as dedup_exact. Both the train and eval branches
    consume the gram stream; it is deliberately NOT persisted —
    measured at the ×10 tier (r6), caching the exploded stream into
    the block manager cost 2.46s → 16.0s, because a second columnar
    parquet scan + codegen explode is far cheaper than materializing
    the wide gram stream (persist pays only for small derived frames,
    e.g. lang_id_ngram's 200-char prefix grams)."""
    # r12: pin the fan-out of the (doc_id, text) stream before the
    # gram explode — the single-row-group fixture caps the scan at 1
    # split, so the explode + partial-distinct ran in ONE task
    # (profiled 633 ms of a 1.16 s steady run at sf0.1). The exchange
    # carries only the bare text (guide §2.3); the downstream distinct
    # exchange and both branch consumers are unchanged. Width is the
    # byte-sized r9 rule (the partial-distinct buffers per-task gram
    # state, the exact shape the rule exists for). Late r12: the pin
    # is CONDITIONAL on a split-starved scan — the 4-gram explode is
    # light enough that on a split-rich input the raw-text exchange
    # costs more than it parallelizes (×10 tier interleaved min-of-3:
    # 3.02 s pinned vs 2.48 s unpinned) — see
    # session.starved_scan_pin_width.
    docs = doc_text_stream(spark, sf_dir)
    # r13: per-doc dedup moved INSIDE the gram array (array_distinct —
    # exactly (doc_id, gram) distinct, zero shuffle; see _word_grams).
    grams = _word_grams(docs, 4, distinct_within_doc=True)
    train = grams.filter(F.col("doc_id") % 10 != 0)
    eval_grams = grams.filter(F.col("doc_id") % 10 == 0).select("gram").distinct()
    return (
        train.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"

_pii_scrub_oracle = f"""
WITH synth AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN ' call +1-555-' || lpad(doc_id::VARCHAR, 4, '0')
                   ELSE '' END AS raw
  FROM documents
)
SELECT doc_id,
       (len(regexp_extract_all(raw, '{_EMAIL_RE}'))
        + len(regexp_extract_all(raw, '{_PHONE_RE}')))::BIGINT AS n_redactions,
       md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM synth
"""


@register("pii_scrub", oracle=_pii_scrub_oracle, tags=("text",))
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails + phone numbers), the compliance
    gate every training-corpus build runs before tokenization. The
    fixture text contains no PII, so the query deterministically
    injects synthetic PII (same CASE logic in the oracle) to make the
    hash check pin real scrub behavior — planted-PII semantics are
    additionally tested in tests/test_llm_pipeline.py.

    Plan: single scan, two regexp_replace + two regexp_extract_all per
    row, all JVM regex (no Python); output is per-doc redaction count
    plus an md5 of the scrubbed text so the oracle compares full
    content without hashing megabytes through the driver. Regexes stay
    in the Java∩RE2 common subset so both engines match identically.
    Scales as a pure map — no shuffle at all."""
    docs = load_table(spark, "documents", sf_dir)
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad(F.col("doc_id").cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    # regexp_extract_all: idx=0 explicitly — group-free patterns throw on
    # the default idx=1 (CLAUDE.md trap).
    n_red = F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)) + F.size(
        F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)
    )
    return docs.select(
        "doc_id",
        n_red.cast("bigint").alias("n_redactions"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_heavy_hitters_oracle = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
)
SELECT token, count(*)::BIGINT AS cnt
FROM toks GROUP BY token
ORDER BY cnt DESC, token LIMIT 20
"""


@register("heavy_hitters", oracle=_heavy_hitters_oracle, tags=("text",))
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the top-20 most frequent tokens —
    the exact version of the frequent-items pass a vocab builder or
    stopword-list miner runs. Tiebreak on the token string keeps the
    LIMIT deterministic (CLAUDE.md invariant).

    Plan: explode → hash-agg (partial map-side combine collapses the
    token stream to |vocab| rows per partition before the shuffle) →
    TakeOrderedAndProject. At 100 TB the shuffle carries only
    |vocab| × partitions rows, and top-k never materializes a global
    sort. For long-tail vocabularies where even that is too wide, the
    scale escape hatch is approx_count_unique-style sketching — kept
    exact here because the oracle is exact.

    r13: the r6-era unconditional round-robin ``repartition(par)`` of
    the raw-text stream is now the shared CONDITIONAL pin
    (tables.doc_text_stream / session.starved_scan_pin_width) — on
    split-rich input the blanket exchange was pure tax (the
    duplicate_span_report class, measured 2.27 vs 0.75 s at ×10), while
    the starved single-split fixtures keep the fan-out; ×10 A/B for THIS
    query in OPTIMIZATION_r13.md."""
    docs = doc_text_stream(spark, sf_dir)
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


_tfidf_oracle = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df::DOUBLE), 6) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ln(n.n_docs / df.df::DOUBLE) DESC,
                                     tf.term) AS rn
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term AS top_term, tfidf FROM scored WHERE rn = 1
"""


@register("tfidf_top_terms", oracle=_tfidf_oracle, tags=("text",))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document most-distinctive term by TF-IDF — the classic
    relevance weight (Salton & Buckley 1988), used in corpus builds
    for topic balancing and near-duplicate triage.

    Plan: ONE tokenization feeds both aggregates: per-(doc,term) tf
    and per-term document frequency; doc count is a 1-row aggregate
    (broadcast by AQE — provably bounded, within the hint policy).
    The df table is |vocab|-sized — small relative to the corpus, AQE
    decides whether to broadcast. Final per-doc argmax is a
    row_number window partitioned by doc_id with a lexicographic
    tiebreaker for determinism. Three shuffles total (tf, df, window)
    — each keyed and linear; nothing quadratic, no Python.

    r13: unconditional round-robin pin → the shared conditional pin
    (tables.doc_text_stream), same rationale as heavy_hitters above; the
    1-row n_docs aggregate reads the bare scan, not the pinned
    stream (no reason to hang a row-count off the exchange)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = doc_text_stream(spark, sf_dir).select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_raw",
            F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("term").alias("top_term"),
            F.round("tfidf_raw", 6).alias("tfidf"),
        )
    )


_inverted_index_oracle = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), posting AS (
  SELECT token, count(*) AS df,
         string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
  FROM toks GROUP BY token
)
SELECT token, df::BIGINT AS df, postings FROM posting
WHERE df <= greatest(100, (SELECT count(*) FROM documents) // 20)
"""


@register("inverted_index", oracle=_inverted_index_oracle, tags=("text",))
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (token → sorted doc-id posting list) for
    the selective tail of the vocabulary — the retrieval / attribution
    side of a corpus store. Head terms are excluded the way real
    indexes stop-list them: their posting lists are O(corpus) rows and
    belong in the heavy_hitters aggregate instead, so no single
    reducer key ever receives an unbounded list (skew guard).

    The cap is ``df ≤ greatest(100, n_docs/20)`` — the r9 liveness
    audit found the old fixed ``df ≤ 100`` went VACUOUS at sf0.1 (the
    synthetic 31-token vocabulary's rarest token appears in ~5% of
    docs: df 25 of 500 at sf0.01 but 250 of 5000 at sf0.1 — same
    q11-class bug, a fixed threshold on 1/SF-scaling data). The
    fractional floor keeps the gate non-empty at every fixture scale
    (1 row each) and the sf0.01 result bit-identical to the old cap;
    the absolute 100 keeps the production story — at real corpus
    sizes you'd hold an absolute cap for buffer bounding and shard
    anything above it. Integer floor-division is portable here
    because both operands are positive (DuckDB // truncates, python
    floors — equal on positives; CLAUDE.md r4 trap).

    Plan: tokenize → per-doc distinct (map-side partial dedup) → one
    groupBy(token) with collect_list, sorted numerically THEN
    serialized (sorting the string list would order '10' < '9'); the
    1-row doc count broadcasts back as a cross join, so the cap
    compare is map-side. The df cap bounds every aggregation buffer;
    the serialized posting string keeps the oracle hash exact.

    r13: unconditional round-robin pin → the shared conditional pin
    (tables.doc_text_stream), same rationale as heavy_hitters above; and the
    per-doc token dedup moved INSIDE the array (array_distinct == the
    old `.distinct()` over (doc_id, token), zero shuffle — the
    benchmark_decontaminate gram-dedup class; the groupBy(token)
    exchange downstream is the only remaining token-stream shuffle)."""
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = doc_text_stream(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("token"),
    )
    posting = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return (
        posting.join(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.greatest(F.lit(100).cast("long"), F.floor(F.col("n_docs") / 20))
        )
        .select("token", "df", "postings")
    )


_tokenize_oracle = """
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS token
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       unnest(generate_series(1, len(t))) AS s(i)
), vocab AS (
  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS tok_id
  FROM toks GROUP BY token
)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       string_agg(v.tok_id::VARCHAR, ',' ORDER BY t.pos) AS token_ids
FROM toks t JOIN vocab v USING (token)
GROUP BY doc_id
"""


def encode_corpus_to_ids(
    spark: SparkSession,
    docs: DataFrame,
    vocab_size: int = 65536,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus → training-tensor encoding with a BOUNDED vocabulary:
    the top ``vocab_size`` tokens by (count desc, token asc) get ids
    0..K-1 (id 0 = most frequent); everything rarer maps to the OOV id
    K — exactly how real tokenizers behave (fixed 32-64k entry tables,
    unknown → <unk>).

    Scale design (VERDICT r03 #2 — this replaces a row_number over the
    ENTIRE vocabulary, an unpartitioned WindowExec that serialized 10⁸+
    distinct tokens through one task at 100 TB):
    - token counts: one partial-agg shuffle, linear in corpus tokens;
    - top-K: ``orderBy().limit(K)`` compiles to TakeOrdered — each
      partition keeps its local top-K heap, the driver merges K rows
      (≤ a few MB by construction, same bounded-collect contract as the
      IVF fit sample in functions/similarity.py);
    - ranking: positional index over the K collected rows — no window,
      no extra shuffle;
    - encode: broadcast hash join against the K-row dictionary (hinted;
      the build side is provably bounded so the hint always holds).
    Sequence order is restored with sort_array over (pos, id) structs —
    the shuffle carries (doc_id, pos, tok_id) triples, linear in corpus
    token count. Measured r3→r4 at sf0.1: the old global-window plan
    was the worst tier-2→3 grower in SCALING.md (6.1×); this plan's
    growth is agg-bound.
    """
    # r13 negative result (VERDICT r12 #5, tried and REVERTED): a
    # fully-lazy form — rank the top-K limit output with a bounded
    # single-task row_number window instead of toPandas + positional
    # index + createDataFrame — is value-identical and makes fn() run
    # zero jobs (prepared-eligible), but measured STRICTLY worse at
    # sf0.1 under interleaved min-of-4: tokenize_to_ids 0.440 → 0.567 s
    # rebuilt, corpus_prep_pipeline 0.374 → 1.957 s rebuilt / 0.659 s
    # prepared-exec. Two causes: the broadcast dictionary becomes a
    # computed subquery AQE must materialize through its serial
    # broadcast rounds (the r7 trap) instead of a job-free
    # LocalRelation, and in corpus_prep the upstream lazy persists
    # (deduped/clean) lose their dedicated fill job so concurrent AQE
    # stages race the fill and recompute the chain. The eager
    # TakeOrdered collect IS the optimization here.
    # The token stream is consumed twice (vocab count + encode) and is
    # deliberately NOT persisted: measured at the ×10 tier (r6),
    # caching the exploded stream cost 1.6s → 7.4s — re-scanning
    # columnar parquet and re-running the codegen explode is far
    # cheaper than materializing the wide (doc_id, pos, token) stream
    # into the block manager. Neither pass repartitions first (r6): the
    # upstream repartition(defaultParallelism) shuffled the FULL text
    # once per pass, and both passes already get reduce-side
    # parallelism from their own shuffle (token partial-agg / doc_id
    # agg) — measured at sf0.1 the count pass dropped 0.51s → 0.20s
    # without it, and at 100 TB the scan is already thousands of
    # splits, so the shuffle bought nothing at either end.
    toks = docs.select(
        "doc_id",
        *keep_cols,
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "token"),
    )
    top = (
        # count pass: tokens only — no positions, no carried columns
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(vocab_size)
        .toPandas()
    )
    top = top.sort_values(
        ["cnt", "token"], ascending=[False, True], ignore_index=True
    )
    top["tok_id"] = top.index.astype("int64")
    vocab = spark.createDataFrame(
        top[["token", "tok_id"]], "token string, tok_id long"
    )
    enc = toks.join(F.broadcast(vocab), "token", "left").withColumn(
        "tok_id", F.coalesce("tok_id", F.lit(vocab_size).cast("bigint"))
    )
    return enc.groupBy("doc_id", *keep_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                lambda s: s.tok_id.cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


@register(
    "tokenize_to_ids", oracle=_tokenize_oracle, tags=("text", "headline", "concurrent")
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary encode (see encode_corpus_to_ids).
    The 65536-entry cap never binds on the fixture vocabulary, so the
    uncapped DuckDB oracle stays exact; the OOV path is pinned by
    tests/test_text_pipeline.py with a tiny forced vocab_size."""
    docs = load_table(spark, "documents", sf_dir)
    return encode_corpus_to_ids(spark, docs, vocab_size=65536)


_packing_oracle = """
WITH n AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS tok_before
  FROM n
)
SELECT doc_id, source, n_tokens::BIGINT AS n_tokens,
       (COALESCE(tok_before, 0) // 512)::BIGINT AS pack_id,
       (COALESCE(tok_before, 0) % 512)::BIGINT AS pack_offset
FROM packed
"""


def pack_sequences(
    n: DataFrame,
    context_len: int = 512,
    max_sort_run: int = 5_000_000,
    num_chunks: int = 1024,
) -> DataFrame:
    """Sequence-packing kernel on a (doc_id, source, n_tokens) frame:
    exclusive per-source running token count → integer div/mod by the
    context length. Two physical paths with IDENTICAL output
    (tests/test_llm_pipeline.py pins equivalence on a 90%-dominant
    source):

    - window path (default): one shuffle keyed on source; each source
      is a single sort run — right whenever the largest source fits a
      task (the fixture case).
    - chunked path: when the largest source exceeds ``max_sort_run``
      rows, a per-source chunked Exscan (operators/windowed.
      exscan_chunked — range-partition on (source, doc_id), local
      scans, broadcast per-source chunk offsets) keeps every task
      bounded by the chunk size, not the source size (VERDICT r03 #4;
      reference dist_cumsum!, src/distributed-pass.jl:1213). The
      path switch is one tiny count aggregate.
    """
    from hpat_jl_spark.operators.windowed import exscan_chunked

    # Path probe, cheap form (r12): the branch only needs "does the
    # LARGEST source exceed max_sort_run". n has one row per doc, so
    # n.count() — which Catalyst prunes to a row count over the scan,
    # no string work, no exchange — upper-bounds every source; only
    # when that bound exceeds the threshold is the per-source
    # aggregate worth its shuffle. Branch decisions are identical to
    # the precise probe in every case (biggest <= total), and both
    # paths produce identical output regardless (pinned in
    # tests/test_llm_pipeline.py). Profiled before: the groupBy probe
    # cost a 6-stage eager job chain per invocation at sf0.1.
    total = n.count()
    biggest = (
        total
        if total <= max_sort_run
        else (n.groupBy("source").count().agg(F.max("count")).first()[0] or 0)
    )
    if biggest > max_sort_run:
        packed = exscan_chunked(
            n,
            "n_tokens",
            order_by="doc_id",
            out="tok_before",
            partition_by="source",
            num_chunks=num_chunks,
        )
    else:
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        packed = n.withColumn(
            "tok_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("tok_before") / context_len).cast("bigint").alias("pack_id"),
        (F.col("tok_before") % context_len).cast("bigint").alias("pack_offset"),
    )


@register("sequence_packing", oracle=_packing_oracle, tags=("text", "headline"))
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-length (512-token)
    training sequences by contiguous fill in deterministic (source,
    doc_id) order — the pass that batches a tokenized corpus into
    constant-shape training rows. Contiguous packing (not bin-packing
    first-fit) is the standard distributed choice because it is a pure
    prefix-sum: deterministic under any partitioning, no sequential
    bin state. Physical strategy and scale story: pack_sequences."""
    docs = load_table(spark, "documents", sf_dir)
    n = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(n, context_len=512)


_domain_mix_oracle = """
WITH n AS (
  SELECT source, count(*) AS n_docs,
         sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_tokens) AS t FROM n)
SELECT source, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
       round(n_tokens / t, 6) AS token_share,
       round(pow(n_tokens / t, 0.7)
             / sum(pow(n_tokens / t, 0.7)) OVER (), 6) AS mix_weight
FROM n CROSS JOIN tot
"""


@register("domain_mix_report", oracle=_domain_mix_oracle, tags=("text",))
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing report: per-source document/token counts, corpus
    token share, and a temperature-scaled sampling weight
    (share^0.7, renormalized — the multinomial temperature sampling of
    GPT-3/XLM-R that up-weights small domains) — the table a corpus
    build publishes to decide epochs-per-source.

    Plan: ONE scan → per-source hash agg (the only data-sized
    shuffle); the share/weight normalizations are windows over the
    AGGREGATED per-source rows — bounded by the number of domains, the
    same safe unpartitioned-window-on-aggregates pattern as
    supplier_revenue_quartiles, never on raw docs."""
    docs = load_table(spark, "documents", sf_dir)
    n = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    weight = F.pow(share, 0.7) / F.sum(F.pow(share, 0.7)).over(w)
    return n.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(weight, 6).alias("mix_weight"),
    )


_corpus_prep_oracle = """
WITH dedup AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           ORDER BY doc_id) AS rn
  FROM documents
), surv0 AS (SELECT doc_id, source, text FROM dedup WHERE rn = 1),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS gram
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM surv0),
       unnest(generate_series(1, len(t) - 3)) AS s(i)
  WHERE len(t) >= 4
), eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
dirty AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN eval_g USING (gram)
  WHERE g.doc_id % 10 <> 0
), clean AS (
  SELECT * FROM surv0
  WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
), toks AS (
  SELECT doc_id, source, i AS pos, t[i] AS token
  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM clean),
       unnest(generate_series(1, len(t))) AS s(i)
), vocab AS (
  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS tok_id
  FROM toks GROUP BY token
), enc AS (
  SELECT doc_id, source, count(*) AS n_tokens,
         string_agg(v.tok_id::VARCHAR, ',' ORDER BY t.pos) AS token_ids
  FROM toks t JOIN vocab v USING (token) GROUP BY doc_id, source
), packed AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tok_before
  FROM enc
)
SELECT doc_id, source,
       (COALESCE(tok_before, 0) // 512)::BIGINT AS pack_id,
       (COALESCE(tok_before, 0) % 512)::BIGINT AS pack_offset,
       n_tokens::BIGINT AS n_tokens,
       token_ids
FROM packed
"""


@register(
    "corpus_prep_pipeline",
    oracle=_corpus_prep_oracle,
    tags=("text", "dedup", "headline"),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP composition: exact dedup → benchmark
    decontamination → tokenize-to-ids → sequence packing as ONE lazy
    plan, hash-checked end-to-end against a DuckDB twin of the entire
    chain — the strongest correctness statement in the repo (the
    per-stage queries pin each kernel; this pins that they compose
    without order/null/dedup-tiebreak drift).

    The quality gate from examples/corpus_prep.py is deliberately
    omitted here: a float threshold could flip on a last-ulp
    cross-engine boundary, and the gate is already oracle-checked via
    text_stats. Everything in this chain is integer/string-exact.

    Scale: the same shapes as the component queries — every stage is
    keyed shuffles linear in the token stream, the vocab window is
    |V|-bounded, and nothing materializes between stages (Catalyst
    fuses the chain; filters reach the scan)."""
    from examples.corpus_prep import prepare_corpus

    return prepare_corpus(spark, sf_dir, context_len=512, min_quality=None)


# FastSS twin (r11, VERDICT r10 #5): the old naive quadratic self-join
# (customer × customer ON levenshtein <= 1) was value-identical but
# ~O(n²) in DuckDB — 145.6 s at sf0.1 and a guaranteed slow-skip in the
# amplified-tier liveness audit (it hung a full run 25+ min at ×10).
# This form mirrors the Spark plan's linear FastSS wildcard buckets and
# (r12, VERDICT r11 #4) applies the distinct-content decomposition the
# ngram_jaccard oracle proved: the amplified tiers replicate c_name
# VERBATIM (only c_custkey shifts), so a bucket join over row instances
# squares the ×N multiplicity — the exact shape that blew the 120 s
# liveness watchdog at the sf0.1→×10 pair. Variants are generated over
# DISTINCT names carrying a count m; each surviving rep-level pair is
# re-expanded to m_a·m_b rows at output, which is precisely the
# row-instance multiplicity (copies of a never pair with each other —
# the strict < excluded them before too). The join key is
# (wildcard position, variant), not the variant string alone (ADVICE
# r11): a hamming-1 pair shares a variant exactly at its differing
# position, so the bucket stays collision-proof even if a name ever
# contained the chr(1) sentinel.
#
# r12: the levenshtein verify is PROVABLY vacuous and was removed from
# both engines. Equal variants force equal lengths, and masking pos
# leaves every other character equal — so two DISTINCT names sharing a
# (pos, variant) key differ at exactly position pos: hamming (hence
# levenshtein) distance is exactly 1, always. Verified empirically
# before the rewrite: min=max=lev=1 over every candidate at sf0.01
# (19,500 pairs) and sf0.1 (262,500). The verify was ~0.7 s of the
# Spark wall (levenshtein evaluated twice per candidate: join
# condition + projected distance) for a filter that can never fire.
# NOTE this holds because substitution-only variants preserve length;
# a FastSS build that also emitted deletion neighborhoods (unequal-
# length edit-distance-1 pairs) WOULD need the verify back.
_fuzzy_oracle = """
WITH dn AS MATERIALIZED (
  SELECT c_name, count(*)::BIGINT AS m FROM customer GROUP BY c_name
),
variants AS MATERIALIZED (
  SELECT c_name, m, i AS pos,
         substr(c_name, 1, i - 1) || chr(1) || substr(c_name, i + 1)
           AS variant
  FROM dn, unnest(generate_series(1, length(c_name))) AS t(i)
),
cand AS (
  SELECT a.c_name AS name_a, b.c_name AS name_b, a.m * b.m AS mult
  FROM variants a JOIN variants b USING (pos, variant)
  WHERE a.c_name < b.c_name
)
SELECT name_a, name_b, 1::BIGINT AS distance
FROM cand, unnest(generate_series(1, mult)) AS g(k)
"""


@register(
    "fuzzy_name_pairs", oracle=_fuzzy_oracle, tags=("dedup", "headline", "prepared")
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (fuzzy entity matching): all
    equal-length name pairs within levenshtein distance 1 — for equal
    lengths that is exactly one substitution, the typo/OCR-dedup case.

    Plan — FastSS wildcard neighborhoods (Bocek et al. 2007), not
    PassJoin segment blocking: these names share a constant 9-char
    prefix, so any prefix/half segment key collapses into ONE bucket
    and goes quadratic. Each DISTINCT name (carrying its row count m —
    the minhash/simhash distinct-content discipline, r12) emits len
    variants with position i replaced by a sentinel; two names share a
    (position, variant) key IFF they are hamming-≤1 at that position,
    so every join bucket is a true match group and a hamming-1 pair
    shares exactly ONE key — multiplicity-exact with no dedup, and
    collision-proof even for names containing the sentinel char
    (ADVICE r11). Surviving rep-level pairs re-expand to m_a·m_b rows,
    the row-instance pair multiplicity (verbatim-duplicated names never
    pair with themselves — strict < always excluded them). The shuffle
    is len× the DISTINCT names (linear, immune to verbatim duplication
    — the ×10/×100 replica tiers square a row-instance bucket join).

    r12 rewrite (was the slowest headline query, 2.4-2.8 s at sf0.1):
    (1) the levenshtein verify is DROPPED as provably vacuous — equal
    variants force equal lengths and masking pos leaves every other
    char equal, so distinct bucket-mates are at distance exactly 1
    (empirically min=max=1 over all 262,500 sf0.1 candidates; see the
    oracle comment — a deletion-neighborhood FastSS would need it
    back). It was ~0.7 s, evaluated twice per candidate. (2) the
    self-join no longer broadcasts: Catalyst picked BHJ on the full
    variants stream, a corpus-sized build that recomputed the whole
    scan→agg→explode subtree on the build side and is exactly the
    unbounded-broadcast shape this repo lints against at 100 TB. Both
    sides now read one pinned repartition(width, pos, variant) of the
    variant stream (byte-sized width, the r9 pinned-width rule) with a
    MERGE hint: SMJ's per-task sort of the narrow stream measured
    FASTER than shuffled-hash's build (0.63 s vs 0.82 s best-of-4,
    same rows) and carries no per-task build-residency floor at the
    amplified tiers. Net: 2.41 → 0.63 s at sf0.1 (3.8×), rows
    identical. The oracle mirrors the same decomposition; both forms
    verified value-identical at sf0.01/sf0.1."""
    from hpat_jl_spark.session import pinned_width

    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_name").alias("name")
    )
    dn = cust.groupBy("name").agg(F.count(F.lit(1)).alias("m"))
    variants = dn.select(
        "name",
        "m",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("name")),
                lambda i: F.concat(
                    F.expr("name").substr(F.lit(1), i - 1),
                    F.lit("\x01"),
                    F.expr("name").substr(i + 1, F.length("name")),
                ),
            )
        ).alias("pos", "variant"),
    )
    width = pinned_width(spark, sf_dir)
    pinned = variants.repartition(width, "pos", "variant")
    a = pinned.alias("a")
    b = pinned.alias("b").hint("merge")
    pairs = (
        a.join(b, ["pos", "variant"])
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            (F.col("a.m") * F.col("b.m")).alias("mult"),
        )
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.lit(1).cast("bigint").alias("distance"),
        F.explode(F.sequence(F.lit(1), F.col("mult"))).alias("_k"),
    ).drop("_k")


_weighted_sample_oracle = """
WITH w AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         ('0x' || substring(md5('wsample:' || doc_id::VARCHAR), 1, 8))::UBIGINT
           / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, source, n_tokens::BIGINT AS n_tokens,
       round(pow(u, 1.0 / n_tokens), 6) AS priority
FROM w
ORDER BY pow(u, 1.0 / n_tokens) DESC, doc_id
LIMIT 100
"""


@register("weighted_sample_docs", oracle=_weighted_sample_oracle, tags=("text",))
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling without replacement (Efraimidis &
    Spirakis 2006): keep the top-k documents by priority u^(1/w) with
    u ~ U(0,1) and w = token count — the exact distributed analogue of
    sampling proportional to length, used to draw token-budgeted
    subsets from a corpus.

    The randomness is CONTENT-ADDRESSED, not seeded RNG: u comes from
    a salted md5 of the doc id (both engines parse the same 8-hex
    prefix to the same integer), so the sample is identical across
    engines, re-shards, and retries — the property that makes it
    oracle-checkable at all, and the property a reproducible corpus
    build needs. Plan: one scan → map-side priorities →
    TakeOrderedAndProject; no shuffle except the final top-k merge
    (ties broken on doc_id; u,priority doubles — last-ulp cross-engine
    divergence would need two priorities within 1e-15, negligible for
    hash-uniform values)."""
    docs = load_table(spark, "documents", sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    pri = F.pow(u, 1.0 / n_tok.cast("double"))
    return (
        docs.select(
            "doc_id",
            "source",
            n_tok.cast("bigint").alias("n_tokens"),
            pri.alias("pri_raw"),
        )
        .orderBy(F.desc("pri_raw"), "doc_id")
        .limit(100)
        .select(
            "doc_id", "source", "n_tokens", F.round("pri_raw", 6).alias("priority")
        )
    )


_unigram_oracle = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents
), freq AS (
  SELECT t, count(*) AS c FROM tok GROUP BY t
), tot AS (
  SELECT sum(c) AS s FROM freq
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(-ln(c / s)), 5) AS avg_nll
FROM tok JOIN freq USING (t) CROSS JOIN tot
GROUP BY doc_id
"""


@register("unigram_logprob_quality", oracle=_unigram_oracle, tags=("text",))
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document: corpus token
    frequencies define p(t) = c_t / N, each document scores
    avg(-ln p(t)) over its tokens — the cheapest LM-based quality
    signal (CCNet's "perplexity filter" shape, Wenzek et al. 2020,
    with the corpus itself as the model): gibberish and rare-token spam
    score high, templated boilerplate scores low. Companion to the
    heuristic quality_score and the trained quality_model_filter.

    Plan: ONE tokenization (explode) feeds both the frequency aggregate
    and the scoring join — same single-pass sharing as tfidf_top_terms.
    The frequency table is token-keyed (vocabulary-sized, Zipf-bounded
    — it grows sublinearly with the corpus, but it is NOT forced
    broadcast: AQE decides, per the broadcast-hint policy). The corpus
    total N is a 1-row aggregate composed in lazily via crossJoin.
    Shuffles: token key (freq + scoring join), then doc_id for the
    per-doc average; nothing quadratic, no Python."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("s"))
    # attach the 1-row total to the VOCAB table (not the token stream):
    # the BNLJ multiplies Zipf-bounded rows, and the per-token join then
    # carries the ready-made surprisal along
    nll = freq.crossJoin(tot).select(
        "t", (-F.log(F.col("c") / F.col("s"))).alias("tok_nll")
    )
    return (
        tok.join(nll, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg("tok_nll"), 5).alias("avg_nll"),
        )
    )


_cms_oracle = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), freq AS (
  SELECT token, count(*)::BIGINT AS true_count FROM tok GROUP BY token
)
SELECT token, true_count, true_count AS est_count
FROM freq ORDER BY true_count DESC, token LIMIT 10
"""


@register("cms_heavy_hitters", oracle=_cms_oracle, tags=("text", "sketch"))
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch point estimates next to exact counts for the
    top-10 corpus tokens (functions/sketches.py). The sketch answers
    "how often does X occur" with O(depth×width) state regardless of
    key cardinality — the building block when the VOCABULARY is the
    scale problem (URL/user-agent/n-gram counting at 100 TB, where the
    exact hash-agg's keyspace itself no longer fits).

    The oracle emits the exact count for both columns: at width 1024
    the fixture vocabulary (31 tokens at every SF) is verifiably
    collision-free, so est_count == true_count deterministically
    (xxhash64 is seeded and fixed). The sketch's one-sided error under
    FORCED collisions (width 2) is pinned in tests/test_sketches.py —
    this query pins the exact-regime behavior and the end-to-end plan
    shape: build = one explode(depth)×hash-agg pass with map-side
    combine (each partition ships ≤ d·w cells — the merge IS partial
    aggregation); probe = broadcast join of the d·w-row sketch."""
    from hpat_jl_spark.functions import sketches as SK

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    sketch = SK.cms_build(tok, "token", depth=4, width=1024)
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .orderBy(F.desc("true_count"), "token")
        .limit(10)
    )
    est = SK.cms_estimate(
        sketch, exact.select("token"), "token", depth=4, width=1024
    )
    return (
        exact.join(est, "token")
        .select("token", "true_count", "est_count")
        .orderBy(F.desc("true_count"), "token")
    )


_c4_oracle = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), lines AS (
  SELECT doc_id, i, t[(7*i+1):(7*i+7)] AS larr,
         array_to_string(t[(7*i+1):(7*i+7)], ' ')
           || CASE WHEN i % 3 = 0 THEN '.' ELSE '' END AS line
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t) / 7.0) AS BIGINT) - 1)) s(i)
), flag AS (
  SELECT doc_id, i, line,
         (i % 3 = 0 AND len(larr) >= 5
          AND NOT list_contains(larr, 'slow')) AS keep
  FROM lines
)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i),
                    '')) AS cleaned_md5
FROM flag GROUP BY doc_id
"""


@register("c4_line_filter", oracle=_c4_oracle, tags=("text",))
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    only lines that end in terminal punctuation, have ≥5 words, and
    contain no blocked word; report per-doc line counts and an md5 of
    the cleaned text. The fixture docs are single-line word soup, so
    the query deterministically re-lines them (7-token lines, every
    3rd line gets a terminal '.') the same way pii_scrub injects PII —
    the oracle replays the injection, so the hash check pins the real
    filter mechanics. 'slow' stands in for the blocklist term.

    Plan: entirely row-local — tokenize, slice into line arrays,
    flag, and re-join WITHIN one projection via higher-order array
    functions (transform/filter over a per-doc index sequence). No
    explode, no shuffle, no Python: a pure map over the corpus, which
    is exactly what a 100 TB line-cleaning pass must be. Output hashes
    (md5 of the kept text) keep driver/compare traffic tiny."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.split(F.trim("text"), r"\s+")
    n_lines = F.ceil(F.size(t) / 7.0).cast("int")

    def line_struct(i):
        larr = F.slice(t, i * 7 + 1, 7)
        line = F.concat(
            F.array_join(larr, " "),
            F.when(i % 3 == 0, F.lit(".")).otherwise(F.lit("")),
        )
        keep = (
            (i % 3 == 0)
            & (F.size(larr) >= 5)
            & ~F.array_contains(larr, "slow")
        )
        return F.struct(line.alias("line"), keep.alias("keep"))

    lines = F.transform(F.sequence(F.lit(0), n_lines - 1), line_struct)
    kept = F.filter(lines, lambda s: s["keep"])
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept, lambda s: s["line"]), "\n")
        ).alias("cleaned_md5"),
    )


_BOILERPLATE = (
    "subscribe to our newsletter for the latest updates and exclusive offers today"
)

_paragraph_dedup_oracle = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), paras AS (
  SELECT doc_id, i AS pos,
         CASE WHEN i % 4 = 0 THEN '{_BOILERPLATE}'
              ELSE array_to_string(t[(12*i+1):(12*i+12)], ' ') END AS para
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t) / 12.0) AS BIGINT) - 1)) s(i)
), firsts AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
  FROM paras
)
SELECT doc_id, count(*)::BIGINT AS n_kept,
       md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS kept_md5
FROM firsts WHERE rn = 1
GROUP BY doc_id
"""


@register("paragraph_dedup", oracle=_paragraph_dedup_oracle, tags=("text",))
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-paragraph dedup, keep-first (the Dolma /
    RefinedWeb paragraph pass): a paragraph occurrence survives only if
    it is the globally first occurrence of that exact text, ordered by
    (doc_id, position); every later copy — in the same doc or any other
    — is dropped, and docs are reassembled from what remains.

    The fixture docs are single-line word soup, so the query
    deterministically re-paragraphs them (12-token paragraphs) and
    plants the duplication signal the same way pii_scrub injects PII:
    every 4th paragraph is a constant boilerplate sentence, so a
    corpus-spanning heavy-hitter paragraph provably exists and only its
    (min doc_id, min pos) copy may survive. The oracle replays the
    injection, so the hash check pins keep-first semantics end to end.

    Plan (functions/dedup.keep_first_paragraphs): paragraphs are built
    row-locally (transform over an index sequence — no explode until
    the dedup needs rows), then ONE fingerprint hash-agg with
    min(struct(doc_id,pos,para)) — partial+final, so the boilerplate
    key collapses map-side and the skewed fingerprint never floods a
    reducer — then one doc_id agg to reassemble. Two shuffles, zero
    joins, zero Python; shuffle rows carry (fp, one candidate struct),
    not every occurrence."""
    from hpat_jl_spark.functions.dedup import keep_first_paragraphs

    docs = load_table(spark, "documents", sf_dir)
    t = F.split(F.trim("text"), r"\s+")
    n_paras = F.ceil(F.size(t) / 12.0).cast("int")

    def para(i):
        return F.when(i % 4 == 0, F.lit(_BOILERPLATE)).otherwise(
            F.array_join(F.slice(t, i * 12 + 1, 12), " ")
        )

    paras = docs.select(
        "doc_id",
        F.posexplode(F.transform(F.sequence(F.lit(0), n_paras - 1), para)).alias(
            "pos", "para"
        ),
    )
    kept = keep_first_paragraphs(paras)
    ordered = F.sort_array(F.collect_list(F.struct("pos", "para")))
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(ordered, lambda s: s["para"]), "\n\n")
        ).alias("kept_md5"),
    )


# Inner-join + exclusive-mass formulation: for a token present in only
# one source, m = p/2 and its JS term collapses to 0.5*p*ln 2, so the
# sum over exclusive tokens is 0.5*ln2*(1 - shared_mass) per side —
# the pairwise join touches only SHARED tokens and no full-outer join
# or zero-filled vocabulary grid is ever materialized. Probabilities
# are ratios of identical integers on both engines; the ln() calls may
# differ by an ulp between libms, so the output rounds to 6dp (term
# sums differ at ~1e-11).
_jsd_oracle = """
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
counts AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, sum(c) AS n FROM counts GROUP BY 1),
dist AS (
  SELECT c.source, c.token, c.c::DOUBLE / t.n AS p
  FROM counts c JOIN totals t ON c.source = t.source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.token,
         a.p AS pa, b.p AS pb
  FROM dist a JOIN dist b ON a.token = b.token AND a.source < b.source
),
shared AS (
  SELECT source_a, source_b,
         sum(0.5 * (pa * ln(2 * pa / (pa + pb))
                  + pb * ln(2 * pb / (pa + pb)))) AS shared_term,
         sum(pa) AS mass_a, sum(pb) AS mass_b
  FROM pairs GROUP BY 1, 2
),
-- anchor on the source dimension: a pair with NO shared tokens must
-- still appear (JSD = ln 2), not vanish with the empty join group
all_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM totals a JOIN totals b ON a.source < b.source
)
SELECT p.source_a, p.source_b,
       round(coalesce(s.shared_term, 0)
             + 0.5 * ln(2) * ((1 - coalesce(s.mass_a, 0))
                            + (1 - coalesce(s.mass_b, 0))), 6)
         AS js_divergence
FROM all_pairs p
LEFT JOIN shared s ON s.source_a = p.source_a AND s.source_b = p.source_b
"""


@register("js_divergence_sources", oracle=_jsd_oracle, tags=("text", "stats"))
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every pair of document sources — the domain-shift
    / corpus-drift measurement a training pipeline runs when mixing or
    refreshing sources (0 = identical distributions, ln 2 = disjoint).

    Plan: one token explode + (source, token)-keyed count (the same
    shared tokenization convention as the rest of the text layer), a
    broadcast of the tiny per-source totals, then ONE self-equi-join on
    the token restricted to shared tokens — the exclusive-token mass
    enters through the closed form 0.5*ln2*(1-shared_mass), so no
    full-outer vocabulary grid exists (see oracle comment). Pairs are
    anchored on the |sources|×|sources| dimension cross (tiny, both
    sides broadcast), so a fully-disjoint pair still reports ln 2
    instead of vanishing with its empty shared-join group (planted test
    tests/test_round3_stats.py). Output is |sources| choose 2 rows. At
    100 TB the join key is the token: stopword-scale hot tokens are
    bounded by |sources|^2 fan-out per token (25 here), not by corpus
    size."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    dist = counts.join(F.broadcast(totals), "source").select(
        "source", "token", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a = dist.select(
        F.col("source").alias("source_a"), "token", F.col("p").alias("pa")
    )
    b = dist.select(
        F.col("source").alias("source_b"), "token", F.col("p").alias("pb")
    )
    pairs = a.join(b, "token").filter(F.col("source_a") < F.col("source_b"))
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.sum(
            0.5
            * (
                F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
            )
        ).alias("shared_term"),
        F.sum("pa").alias("mass_a"),
        F.sum("pb").alias("mass_b"),
    )
    import math

    sa = totals.select(F.col("source").alias("source_a"))
    sb = totals.select(F.col("source").alias("source_b"))
    all_pairs = sa.crossJoin(sb).filter(F.col("source_a") < F.col("source_b"))
    out = all_pairs.join(shared, ["source_a", "source_b"], "left")
    return out.select(
        "source_a",
        "source_b",
        F.round(
            F.coalesce(F.col("shared_term"), F.lit(0.0))
            + 0.5
            * math.log(2.0)
            * (
                (1 - F.coalesce(F.col("mass_a"), F.lit(0.0)))
                + (1 - F.coalesce(F.col("mass_b"), F.lit(0.0)))
            ),
            6,
        ).alias("js_divergence"),
    )


# ---- training-mix rebalance plan ----
# domain_mix_report above DESCRIBES the corpus; this query PLANS the
# sample: given declared target mix weights, find the largest token
# budget B the corpus supports (B = min_s tokens_s / w_s — the binding
# source is fully consumed, every other source is downsampled) and emit
# per-source keep fractions and expected token yields. Pure arithmetic
# over the per-source aggregate, so the plan is fully hash-gated; the
# keep fractions feed stratified_sample_hash to actually draw the
# sample deterministically.
_MIX_TARGETS = {"src0": 0.30, "src1": 0.25, "src2": 0.25, "src3": 0.20}

_mix_case = " ".join(
    f"WHEN source = '{s}' THEN {w!r}::DOUBLE" for s, w in _MIX_TARGETS.items()
)
_mix_plan_oracle = f"""
WITH t AS (
  SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens,
         CASE {_mix_case} END AS w
  FROM documents
  WHERE source IN ({", ".join(f"'{s}'" for s in _MIX_TARGETS)})
  GROUP BY source
),
b AS (SELECT min(n_tokens / w) AS budget FROM t)
SELECT source, n_tokens, round(w, 6) AS target_weight,
       round(least(w * (SELECT budget FROM b) / n_tokens, 1.0), 6)
         AS keep_fraction,
       CAST(floor(w * (SELECT budget FROM b)) AS BIGINT) AS expected_tokens
FROM t
"""


@register("mix_rebalance_plan", oracle=_mix_plan_oracle, tags=("text", "llm"))
def mix_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute the sampling plan that realizes a declared target mix
    (module comment above): budget B = min_s tokens_s / w_s, keep
    fraction w_s·B / tokens_s, expected yield floor(w_s·B). One scan,
    one per-source aggregate, a 1-row min, and row-local arithmetic —
    the binding-source computation every corpus build runs before
    sampling."""
    docs = load_table(spark, "documents", sf_dir)
    t = (
        docs.filter(F.col("source").isin(*_MIX_TARGETS))
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    w = F.lit(None).cast("double")
    for s, tw in _MIX_TARGETS.items():
        w = F.when(F.col("source") == s, F.lit(tw)).otherwise(w)
    t = t.withColumn("w", w)
    budget = t.select(
        F.min(F.col("n_tokens") / F.col("w")).alias("budget")
    )
    return t.crossJoin(F.broadcast(budget)).select(
        "source",
        "n_tokens",
        F.round("w", 6).alias("target_weight"),
        F.round(
            F.least(
                F.col("w") * F.col("budget") / F.col("n_tokens"), F.lit(1.0)
            ),
            6,
        ).alias("keep_fraction"),
        F.floor(F.col("w") * F.col("budget")).cast("bigint").alias(
            "expected_tokens"
        ),
    )
