"""Text analysis operators as oracle-checked queries over documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphraft_spark.ops.text_analysis import (
    STOPWORDS,
    doc_fingerprint,
    langid_scores,
    quality_features,
    token_count_bpe_ish,
    token_count_ws,
)
from graphraft_spark.registry import register
from graphraft_spark.registry._sql_fragments import (  # noqa: F401
    _GOPHER_KEEP_SQL,
    _NORM,
    _WORDS,
    _stop_sql,
)
from graphraft_spark.sources.pq_cache import load_pq

_H60 = "(('0x' || substr(md5({s}), 1, 15))::BIGINT % 1000000007)"


@register(
    "t_token_counts", extra=True,
    oracle=f"""
SELECT doc_id,
       CAST(len({_WORDS}) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
""")
def t_token_counts(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens (alnum
    runs, punctuation singletons) — the budget-counting primitives."""
    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("int").alias("n_ws_tokens"),
        token_count_bpe_ish(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


@register(
    "t_quality_features",
    oracle=f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_WORDS}) AS BIGINT) AS n_words,
       ROUND(list_sum(list_transform({_WORDS}, w -> length(w)))
             / CAST(len({_WORDS}) AS DOUBLE), 6) AS mean_word_len,
       ROUND(CAST(length(text) - length(regexp_replace(
                 text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS punct_ratio,
       ROUND(CAST({_stop_sql('en')} AS DOUBLE) / len({_WORDS}), 6)
           AS stopword_ratio
FROM documents
""")
def t_quality_features(spark, sf_dir):
    """Quality scoring features: length, word stats, punctuation ratio,
    stopword ratio — one codegen'd projection, the cheap pre-filter for
    corpus cleaning."""
    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    f = quality_features(F.col("text"))
    return d.select(
        "doc_id", f["n_chars"].alias("n_chars"),
        f["n_words"].alias("n_words"),
        F.round(f["mean_word_len"], 6).alias("mean_word_len"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
    )


@register(
    "t_langid", extra=True,
    oracle=f"""
WITH scores AS (
    SELECT doc_id, lang,
           list_sort([
               {{'neg': -ROUND(CAST({_stop_sql('de')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'de'}},
               {{'neg': -ROUND(CAST({_stop_sql('en')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'en'}},
               {{'neg': -ROUND(CAST({_stop_sql('es')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'es'}},
               {{'neg': -ROUND(CAST({_stop_sql('fr')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'fr'}}
           ]) AS s
    FROM documents
)
SELECT doc_id, lang AS labeled_lang, s[1].lang AS predicted_lang,
       ROUND(-s[1].neg, 6) AS top_score
FROM scores
""")
def t_langid(spark, sf_dir):
    """Language-ID heuristic: per-language stopword-hit ratio, argmax —
    compared against the table's labeled lang column."""
    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    # round scores before ranking so oracle tie-order matches exactly
    from graphraft_spark.ops.dedup import words as words_col

    ws = words_col(F.col("text"))
    n = F.size(ws)
    entries = []
    for lang in sorted(STOPWORDS):
        lex = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, w)))
        score = F.round(
            F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0)), 9)
        entries.append(F.struct((-score).alias("neg"),
                                F.lit(lang).alias("lang")))
    s = F.array_sort(F.array(*entries))
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        F.element_at(s, 1)["lang"].alias("predicted_lang"),
        F.round(-F.element_at(s, 1)["neg"], 6).alias("top_score"),
    )


@register(
    "t_fingerprint", extra=True,
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS} AS words, md5({_NORM}) AS content_sig
           FROM documents),
sh AS (
    SELECT doc_id, content_sig,
           list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS s
    FROM w
)
SELECT doc_id,
       array_to_string(
           list_sort(list_transform(s, x -> {_H60.format(s='x')}))[1:4], '|')
           AS fingerprint,
       content_sig
FROM sh
""")
def t_fingerprint(spark, sf_dir):
    """Document fingerprinting: 4 smallest shingle hashes (winnowing-style
    sketch) + exact md5 content signature.  Sketch serialized '|'-joined
    (sorted) so the driver canonicalizer sees scalars."""
    from graphraft_spark.ops.text_analysis import content_signature

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.concat_ws("|", F.transform(
            doc_fingerprint(F.col("text"), k=3, num=4),
            lambda x: x.cast("string"))).alias("fingerprint"),
        content_signature(F.col("text")).alias("content_sig"),
    )


@register(
    "t_source_quota", extra=True,
    oracle="""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn <= 10
""")
def t_source_quota(spark, sf_dir):
    """Corpus mixing: per-source quota (first 10 docs per source in
    doc_id order) — the per-domain cap step of corpus curation."""
    from graphraft_spark.ops.text_analysis import source_quota

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return source_quota(d, cap=10).select("doc_id", "source")


@register(
    "t_pack_bins", extra=True,
    oracle="""
SELECT doc_id,
       CAST(floor(COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) / 10000.0) AS BIGINT) AS bin_id
FROM documents
""")
def t_pack_bins(spark, sf_dir):
    """Context-window packing: assign docs to fixed 10k-char bins by
    exclusive cumulative size (sharding approximation of greedy
    packing)."""
    from graphraft_spark.ops.text_analysis import pack_bins

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return pack_bins(d.select("doc_id", "n_chars"), budget=10_000,
                     size_col="n_chars").select("doc_id", "bin_id")


@register(
    "t_pii_scrub",  # promoted r13 (eighth wave)
    oracle="""
WITH seeded AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com ref 123456789' AS t
    FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
           'g'), '[0-9]{9,}', '<NUM>', 'g')) AS scrub_sig,
       CAST(length(t) - length(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
           'g'), '[0-9]{9,}', '<NUM>', 'g')) AS BIGINT) AS n_chars_removed
FROM seeded
""")
def t_pii_scrub(spark, sf_dir):
    """PII scrubbing: emails + long digit runs replaced with typed
    tokens over deterministically seeded inputs (the base corpus has no
    PII); verified via md5 of the scrubbed text + removed-char count."""
    from graphraft_spark.ops.text_analysis import scrub_pii

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    seeded = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@mail.example.com ref 123456789")).alias("t"))
    scrubbed = scrub_pii(F.col("t"))
    return seeded.select(
        "doc_id", F.md5(scrubbed.cast("binary")).alias("scrub_sig"),
        (F.length("t") - F.length(scrubbed)).cast("bigint")
        .alias("n_chars_removed"))


_DECON_ORACLE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS words FROM documents
),
bench AS (
    SELECT DISTINCT array_to_string(words[4:11], ' ') AS g
    FROM w WHERE doc_id % 7 = 3 AND len(words) >= 11
),
grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 7, 1) + 1),
               i -> array_to_string(words[i:i+7], ' ')))) AS g
    FROM w
),
hits AS (
    SELECT doc_id, COUNT(*) AS n_hits
    FROM grams JOIN bench USING (g)
    GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@register("t_decontaminate", extra=True, oracle=_DECON_ORACLE)
def t_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ops/decontaminate.py): an 'eval set'
    of 8-word spans lifted from every doc_id%7==3 document must flag
    exactly the documents containing those spans.  Corpus side: one
    scan -> n-gram explode -> broadcast semi-join; the benchmark side
    broadcasts (eval sets are tiny vs a 100 TB corpus)."""
    from graphraft_spark.ops.dedup import words
    from graphraft_spark.ops.decontaminate import contamination_flags

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    ws = words(F.col("text"))
    bench = (docs.filter((F.col("doc_id") % 7 == 3) & (F.size(ws) >= 11))
             .select(F.concat_ws(" ", F.slice(ws, 4, 8)).alias("text")))
    # no orderBy: the driver's compare is order-insensitive and a global
    # sort would add a pointless single-range exchange
    return contamination_flags(docs, bench, n=8)


@register("t_bloom_decontaminate", oracle=_DECON_ORACLE,
          extra=True)  # demoted r12 (green r9-r11)
def t_bloom_decontaminate(spark, sf_dir):
    """t_decontaminate through the Bloom prefilter
    (ops/decontaminate.py bloom_decontaminate): executors receive a
    fixed 64 KiB bitmap instead of the raw benchmark gram strings;
    survivors are exact-verified, so the output — and the oracle — is
    identical to the direct broadcast path."""
    from graphraft_spark.ops.dedup import words
    from graphraft_spark.ops.decontaminate import bloom_decontaminate

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    ws = words(F.col("text"))
    bench = (docs.filter((F.col("doc_id") % 7 == 3) & (F.size(ws) >= 11))
             .select(F.concat_ws(" ", F.slice(ws, 4, 8)).alias("text")))
    return bloom_decontaminate(docs, bench, n=8)


@register(
    "t_repetition", extra=True,
    oracle=f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS words FROM documents
),
base AS (
    SELECT doc_id, len(words) AS n_words,
           len(list_distinct(words)) AS n_distinct_words,
           CASE WHEN len(words) >= 2
                THEN list_transform(range(1, len(words)),
                                    i -> array_to_string(words[i:i+1], ' '))
                ELSE words END AS grams
    FROM w
),
per_gram AS (
    SELECT doc_id, n_words, n_distinct_words, g, COUNT(*) AS cnt
    FROM (SELECT doc_id, n_words, n_distinct_words, unnest(grams) AS g
          FROM base)
    GROUP BY ALL
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       ROUND(1 - CAST(n_distinct_words AS DOUBLE) / n_words, 6)
           AS dup_word_frac,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_bigram_share,
       ROUND(1 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_bigram_frac
FROM per_gram
GROUP BY doc_id, n_words, n_distinct_words
""")
def t_repetition(spark, sf_dir):
    """Gopher-style repetition features (ops/text_analysis.py:
    repetition_features): duplicate-word fraction, most-frequent-2-gram
    share, duplicate-2-gram fraction — the standard repetition filters
    for corpus quality gating."""
    from graphraft_spark.ops.text_analysis import repetition_features

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    out = repetition_features(docs)
    return out.select(
        "doc_id", F.col("n_words").cast("int").alias("n_words"),
        "dup_word_frac", "top_bigram_share", "dup_bigram_frac")


@register(
    "t_quality_gate", extra=True,
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           ROUND(0.4 * LEAST(CAST({_stop_sql('en')} AS DOUBLE)
                             / GREATEST(len({_WORDS}), 1) * 4, 1.0)
                 + 0.3 * (CASE WHEN len({_WORDS}) > 0 AND
                               list_sum(list_transform({_WORDS},
                                        w -> len(w))) / len({_WORDS})
                               BETWEEN 3 AND 10 THEN 1 ELSE 0 END)
                 + 0.3 * (1 - LEAST(CAST(len(regexp_extract_all(text,
                          '[^\\w\\s]')) AS DOUBLE)
                          / GREATEST(length(text), 1) * 5, 1.0)), 6)
               AS quality
    FROM documents
),
ranked AS (
    SELECT doc_id, quality,
           percent_rank() OVER (ORDER BY quality, doc_id) AS pr
    FROM scored
)
SELECT doc_id, quality FROM ranked WHERE pr >= 0.25
""")
def t_quality_gate(spark, sf_dir):
    """Quantile gate: drop the bottom 25% of documents by quality score
    using percent_rank — rank semantics are EXACT and engine-portable
    (no interpolated-quantile drift between engines).  The global
    window is the single-shard form; at 100 TB partition by a shard key
    (the gate then holds per shard) or precompute the threshold with a
    mergeable GK sketch (ops/sketches.py) and broadcast it."""
    from pyspark.sql import Window

    from graphraft_spark.ops.text_analysis import quality_score

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    scored = d.select("doc_id", quality_score(F.col("text")).alias("quality"))
    pr = F.percent_rank().over(Window.orderBy("quality", "doc_id"))
    return (scored.withColumn("pr", pr).filter(F.col("pr") >= 0.25)
            .select("doc_id", "quality"))


@register(
    "t_temperature_mix", extra=True,  # promoted r11; demoted r13
    oracle="""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           (('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT) % 1048576 AS h,
           CAST(round((CAST(substr(source, 4) AS BIGINT) + 1)
                      * 1048576 / 20.0, 0) AS BIGINT) AS t
    FROM documents
)
WHERE h < t
""")
def t_temperature_mix(spark, sf_dir):
    """Deterministic source-mixing by hash-thinning: each source keeps
    rate (i+1)/20 of its documents, reproducibly (portable md5 — no
    RNG), one scan, no shuffle.  The rates are caller policy (e.g.
    τ-weighted source mixing); this query pins the thinning operator
    itself against the oracle."""
    from graphraft_spark.ops.text_analysis import temperature_mix

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    rates = {f"src{i}": (i + 1) / 20 for i in range(20)}
    return temperature_mix(d, rates).select("doc_id", "source")


@register(
    "t_corpus_report", extra=True,
    oracle="""
SELECT COALESCE(source, '<all>') AS source,
       COALESCE(lang, '<all>') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY GROUPING SETS ((source, lang), (source), ())
""")
def t_corpus_report(spark, sf_dir):
    """Corpus statistics card in ONE aggregation pass: per
    (source, lang), per source, and overall via ROLLUP (the grouping
    sets ((source,lang),(source),()) ) — the
    dataset-documentation numbers (counts, char-length min/avg/max)
    every curated corpus ships with.  Map-side partial aggregation;
    one shuffle regardless of how many grouping levels."""
    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return (
        d.rollup("source", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
        .select(F.coalesce("source", F.lit("<all>")).alias("source"),
                F.coalesce("lang", F.lit("<all>")).alias("lang"),
                "n_docs", "total_chars", "avg_chars", "min_chars",
                "max_chars")
    )


@register("t_bpe_tokenize", extra=True)  # rows-only: iterative trainer
def t_bpe_tokenize(spark, sf_dir):
    """Distributed BPE: train 8 merges on the documents corpus (word-
    frequency table collapse + per-round pair aggregates, ops/bpe.py),
    then encode every document with the learned ranks via the Arrow-
    batched encoder.  Iterative → no SQL oracle; exact semantics pinned
    by tests/test_bpe.py parity with an independent reference
    implementation (identical merge sequences and encodings)."""
    from graphraft_spark.ops.bpe import encode_bpe, train_bpe

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, num_merges=8)
    return (
        encode_bpe(docs, merges)
        .select("doc_id", F.size("tokens").alias("n_tokens"),
                F.concat_ws(" ", F.slice("tokens", 1, 12))
                .alias("head_tokens"))
    )


@register(
    "t_chunk_overlap", extra=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
c AS (
  SELECT doc_id,
         unnest(generate_series(
             0, len(generate_series(1, greatest(len(w) - 8, 1), 24)) - 1))
           AS chunk_id,
         unnest(list_transform(
             generate_series(1, greatest(len(w) - 8, 1), 24),
             s -> struct_pack(
               start_token := s,
               chunk := array_to_string(w[s : s + 31], ' '),
               n_tokens := least(32, len(w) - s + 1)))) AS ch
  FROM t
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(ch.start_token AS INT) AS start_token,
       ch.chunk AS chunk,
       CAST(ch.n_tokens AS INT) AS n_tokens
FROM c
""")
def t_chunk_overlap(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, 8-token
    overlap — sized so the sf documents genuinely produce overlapping
    multi-chunk output) — the RAG/pretraining chunker as one row-local codegen
    scan; the oracle replays start arithmetic and slicing in SQL."""
    from graphraft_spark.ops.text_analysis import chunk_documents

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    out = chunk_documents(d, chunk_tokens=32, overlap=8)
    return out.select("doc_id", F.col("chunk_id").cast("int"),
                      F.col("start_token").cast("int"), "chunk",
                      F.col("n_tokens").cast("int"))


@register(
    "t_top_ngrams", extra=True,
    oracle=f"""
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 0)),
           i -> w[i] || ' ' || w[i+1])) AS ngram
  FROM (SELECT string_split({_NORM}, ' ') AS w FROM documents)
)
GROUP BY ngram
ORDER BY cnt DESC, ngram
LIMIT 100
""")
def t_top_ngrams(spark, sf_dir):
    """Corpus bigram vocabulary stats (the vocab-building scan feeding
    tokenizer training / repetition analysis): explode all word
    2-grams, one count shuffle, deterministic top-100.  At 100 TB the
    count is map-side-combined; the top-k is a tiny sorted tail."""
    from graphraft_spark.ops.text_analysis import bigrams_all

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return (d.select(F.explode(bigrams_all(F.col("text"))).alias("ngram"))
            .groupBy("ngram").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("ngram")).limit(100))


@register(
    "e_shuffle_det",  # promoted r12 (seventh wave)
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY ('0x' || substr(md5('epoch0' || CAST(doc_id AS VARCHAR)),
                   1, 15))::BIGINT, doc_id) AS INT) AS shuffle_rank
FROM documents
""")
def e_shuffle_det(spark, sf_dir):
    """Deterministic seed-keyed global shuffle order (training-order
    randomization; per-epoch reshuffle = new seed) — portable-hash
    total order, reproduced bit-for-bit by the SQL oracle."""
    from graphraft_spark.data.ops import deterministic_shuffle

    d = load_pq(spark, f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed="epoch0") \
        .select("doc_id", F.col("shuffle_rank").cast("int"))


_BUCKET = ("(('0x' || substr(md5({g}), 1, 15))::BIGINT % 1000000007) "
           "% 10000")


@register(
    "t_dsir_weights", extra=True,
    oracle=f"""
WITH docs AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, CASE WHEN len(w) >= 2
      THEN list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1])
      ELSE w END AS gs
  FROM docs
),
b AS (
  SELECT doc_id,
         unnest(list_transform(gs, g -> {_BUCKET.format(g='g')})) AS bucket
  FROM grams
),
tcnt AS (SELECT bucket, count(*) AS t_cnt FROM b
         WHERE doc_id % 10 = 0 GROUP BY bucket),
rcnt AS (SELECT bucket, count(*) AS r_cnt FROM b GROUP BY bucket),
tt AS (SELECT sum(t_cnt) AS t_tot FROM tcnt),
rt AS (SELECT sum(r_cnt) AS r_tot FROM rcnt),
ratio AS (
  SELECT COALESCE(rcnt.bucket, tcnt.bucket) AS bucket,
         ln((COALESCE(t_cnt, 0) + 1.0) / (t_tot + 10000.0))
       - ln((COALESCE(r_cnt, 0) + 1.0) / (r_tot + 10000.0)) AS log_ratio
  FROM rcnt FULL OUTER JOIN tcnt ON rcnt.bucket = tcnt.bucket, tt, rt
)
SELECT b.doc_id, ROUND(COALESCE(SUM(r.log_ratio), 0), 6) AS dsir_weight
FROM b LEFT JOIN ratio r ON b.bucket = r.bucket
GROUP BY b.doc_id
""")
def t_dsir_weights(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): hashed-bigram importance
    weights of every raw document against a target slice (docs with
    doc_id%10==0) — log-likelihood ratio under smoothed bucket unigram
    models.  The oracle replays featurization, both distributions, and
    the per-doc sum."""
    from graphraft_spark.ops.text_analysis import dsir_weights

    d = load_pq(spark, f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    target = d.filter(F.col("doc_id") % 10 == 0)
    out = dsir_weights(d, target)
    return out.select("doc_id",
                      F.round("dsir_weight", 6).alias("dsir_weight"))


@register(
    "t_bigram_lm_score", extra=True,  # promoted r7; demoted r10 (driver-green r7-r9; text keeps quality/c4/bloom/tfidf)
    oracle=f"""
WITH docs AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
trans AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS bg
  FROM docs WHERE len(w) >= 2
),
bi AS (
  SELECT bg, count(*) AS c_bi FROM trans
  WHERE doc_id % 2 = 0 GROUP BY bg
),
ucnt AS (
  SELECT tok, count(*) AS c_uni FROM (
    SELECT unnest(w) AS tok FROM docs WHERE doc_id % 2 = 0
  ) GROUP BY tok
),
tot AS (SELECT sum(c_uni) AS total, count(*) AS v FROM ucnt),
scored AS (
  SELECT t.doc_id,
         CASE WHEN b.c_bi IS NOT NULL AND p.c_uni IS NOT NULL
              THEN ln(CAST(b.c_bi AS DOUBLE) / p.c_uni)
              ELSE ln(0.4 * (COALESCE(cu.c_uni, 0) + 1.0) / (total + v))
         END AS lp
  FROM trans t
  LEFT JOIN bi b ON t.bg = b.bg
  LEFT JOIN ucnt p ON string_split(t.bg, ' ')[1] = p.tok
  LEFT JOIN ucnt cu ON string_split(t.bg, ' ')[2] = cu.tok, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
       ROUND(avg(lp), 6) AS lp_mean
FROM scored GROUP BY doc_id
""")
def t_bigram_lm_score(spark, sf_dir):
    """Distributed n-gram LM (CCNet recipe, LM trained in-engine):
    bigram/unigram counts trained on the even-doc_id half, every
    document scored by mean stupid-backoff transition log-prob.  Two
    count shuffles + an exploded-transition sort-merge join — the LM
    never has to fit in executor memory."""
    from graphraft_spark.ops.word_lm import (stupid_backoff_score,
                                             train_bigram_lm)

    d = load_pq(spark, f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    bi, uni = train_bigram_lm(d.filter(F.col("doc_id") % 2 == 0))
    out = stupid_backoff_score(d, bi, uni)
    return out.select("doc_id", "n_trans",
                      F.round("lp_mean", 6).alias("lp_mean"))


@register(
    "t_source_kl", extra=True,
    oracle=f"""
WITH toks AS (
  SELECT source AS g, unnest(string_split({_NORM}, ' ')) AS tok
  FROM documents
),
gcnt AS (SELECT g, tok, count(*) AS c_gt FROM toks GROUP BY g, tok),
ccnt AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
gtot AS (SELECT g, sum(c_gt) AS n_g FROM gcnt GROUP BY g),
scalar AS (SELECT sum(c_t) AS n, count(*) AS v FROM ccnt),
filled AS (
  SELECT t.g, t.n_g, c.c_t, gc.c_gt, s.n, s.v
  FROM ccnt c CROSS JOIN gtot t
  LEFT JOIN gcnt gc ON gc.g = t.g AND gc.tok = c.tok, scalar s
)
SELECT g AS source,
       ROUND(sum(
         ((COALESCE(c_gt, 0) + 1.0) / (n_g + 1.0 * v))
         * ln(((COALESCE(c_gt, 0) + 1.0) / (n_g + 1.0 * v))
              / ((c_t + 1.0) / (n + 1.0 * v)))), 6) AS kl
FROM filled GROUP BY g
""")
def t_source_kl(spark, sf_dir):
    """Corpus-mix drift monitor: per-source KL divergence of the
    smoothed unigram distribution from the whole corpus's, over the
    shared corpus-vocab support.  One corpus scan, two count shuffles,
    a vocab-sized completion frame per source."""
    from graphraft_spark.ops.text_analysis import source_divergence

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    out = source_divergence(d, group_col="source")
    return out.select("source", F.round("kl", 6).alias("kl"))


@register(
    "t_winnow", extra=True,
    oracle=f"""
WITH docs AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, CASE WHEN len(w) >= 3
      THEN list_transform(generate_series(1, len(w) - 2),
                          i -> array_to_string(w[i:i+2], ' '))
      ELSE [array_to_string(w, ' ')] END AS gs
  FROM docs
),
hashes AS (
  SELECT doc_id,
         list_transform(gs, g -> {_H60.format(s='g')}) AS h
  FROM grams
),
wins AS (
  SELECT doc_id, CASE WHEN len(h) >= 4
      THEN list_transform(generate_series(1, len(h) - 3),
                          j -> list_min(h[j:j+3]))
      ELSE [list_min(h)] END AS sel
  FROM hashes
)
SELECT DISTINCT doc_id, unnest(sel) AS fp FROM wins
""")
def t_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS): per-document selected k-gram
    hashes with the w+k-1 positional coverage guarantee, exploded to
    (doc_id, fp) rows.  A self-join on fp is the plagiarism/overlap
    detector; pure codegen scan here."""
    from graphraft_spark.ops.text_analysis import winnow_fingerprints

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return (d.select("doc_id",
                     F.explode(winnow_fingerprints(F.col("text"),
                                                   k=3, w=4)).alias("fp"))
            .distinct())


@register(
    "t_ppl_band", extra=True,
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source, string_split({_NORM}, ' ') AS w FROM documents
),
trans AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS bg
  FROM docs WHERE len(w) >= 2
),
bi AS (
  SELECT bg, count(*) AS c_bi FROM trans
  WHERE doc_id % 2 = 0 GROUP BY bg
),
ucnt AS (
  SELECT tok, count(*) AS c_uni FROM (
    SELECT unnest(w) AS tok FROM docs WHERE doc_id % 2 = 0
  ) GROUP BY tok
),
tot AS (SELECT sum(c_uni) AS total, count(*) AS v FROM ucnt),
scored AS (
  SELECT t.doc_id,
         CASE WHEN b.c_bi IS NOT NULL AND p.c_uni IS NOT NULL
              THEN ln(CAST(b.c_bi AS DOUBLE) / p.c_uni)
              ELSE ln(0.4 * (COALESCE(cu.c_uni, 0) + 1.0) / (total + v))
         END AS lp
  FROM trans t
  LEFT JOIN bi b ON t.bg = b.bg
  LEFT JOIN ucnt p ON string_split(t.bg, ' ')[1] = p.tok
  LEFT JOIN ucnt cu ON string_split(t.bg, ' ')[2] = cu.tok, tot
),
perdoc AS (
  SELECT doc_id, avg(lp) AS lp_mean FROM scored GROUP BY doc_id
),
banded AS (
  SELECT d.doc_id, d.source, p.lp_mean,
         percent_rank() OVER (PARTITION BY d.source
                              ORDER BY p.lp_mean DESC, d.doc_id) AS pr
  FROM docs d JOIN perdoc p ON p.doc_id = d.doc_id
)
SELECT doc_id, source, ROUND(lp_mean, 6) AS lp_mean,
       ROUND(pr, 6) AS band_rank
FROM banded WHERE pr <= 0.6
""")
def t_ppl_band(spark, sf_dir):
    """The full CCNet recipe in one query: score every document's mean
    stupid-backoff log-prob under the bigram LM trained on the trusted
    half, then keep each source's best-60% band by rank-exact
    percent_rank (head+middle of the Wikipedia-style split).  Every
    stage — LM training, scoring, banding — is in-engine and
    SQL-replayable."""
    from pyspark.sql import Window

    from graphraft_spark.ops.word_lm import (stupid_backoff_score,
                                             train_bigram_lm)

    d = load_pq(spark, f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text")
    bi, uni = train_bigram_lm(d.filter(F.col("doc_id") % 2 == 0))
    scored = stupid_backoff_score(d, bi, uni)
    joined = d.select("doc_id", "source").join(scored, "doc_id")
    w = Window.partitionBy("source").orderBy(F.desc("lp_mean"),
                                             F.asc("doc_id"))
    return (joined
            .withColumn("pr", F.percent_rank().over(w))
            .filter(F.col("pr") <= 0.6)
            .select("doc_id", "source",
                    F.round("lp_mean", 6).alias("lp_mean"),
                    F.round("pr", 6).alias("band_rank")))


@register(
    "t_c4_clean", extra=True,  # demoted r11 (driver-green r8-r10)
    oracle="""
WITH lined AS (
    SELECT doc_id,
           regexp_replace(text, '\\. ', '.' || chr(10), 'g') AS t
    FROM documents
),
f AS (
    SELECT doc_id, t,
           list_filter(string_split(t, chr(10)),
               ln -> regexp_matches(ln, '[.!?]["”]?\\s*$')
                     AND len(regexp_split_to_array(trim(ln), '\\s+')) >= 3
                     AND NOT contains(lower(ln), 'javascript')) AS kept
    FROM lined
)
SELECT doc_id,
       md5(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_md5,
       CAST(len(kept) AS INT) AS n_lines_kept,
       CAST(len(string_split(t, chr(10))) AS INT) AS n_lines,
       (NOT contains(lower(t), 'lorem ipsum')
        AND NOT contains(t, '{')) AS doc_kept
FROM f
""")
def t_c4_clean(spark, sf_dir):
    """C4 cleaning (Raffel et al. 2020 §2.2): line-level terminal-
    punctuation/min-words/javascript filter + lorem-ipsum/brace doc
    gates.  The synthetic corpus is single-line, so both engines first
    split sentences onto lines ('. ' → '.\\n') identically; the clean
    text is md5'd so the compared columns stay scalar."""
    from graphraft_spark.ops.text_analysis import c4_clean

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    lined = d.select(
        "doc_id",
        F.regexp_replace("text", r"\. ", ".\n").alias("text"))
    out = c4_clean(lined)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
        F.col("n_lines").cast("int").alias("n_lines"), "doc_kept")


@register(
    "t_gopher_gates",  # promoted r13 (eighth wave)
    oracle=f"""
SELECT doc_id,
       (len({_WORDS}) >= 50 AND len({_WORDS}) <= 100000) AS ok_word_count,
       (ml >= 3.0 AND ml <= 10.0) AS ok_mean_word_len,
       (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS DOUBLE)
        / len({_WORDS}) <= 0.1) AS ok_symbol_ratio,
       (CAST(len(list_filter({_WORDS},
                 w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        / len({_WORDS}) >= 0.8) AS ok_alpha_words,
       (len(list_intersect(list_distinct({_WORDS}),
            ['the','be','to','of','and','that','have','with'])) >= 2)
           AS ok_stopwords,
       ((len({_WORDS}) >= 50 AND len({_WORDS}) <= 100000)
        AND (ml >= 3.0 AND ml <= 10.0)
        AND (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS DOUBLE)
             / len({_WORDS}) <= 0.1)
        AND (CAST(len(list_filter({_WORDS},
                  w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / len({_WORDS}) >= 0.8)
        AND (len(list_intersect(list_distinct({_WORDS}),
             ['the','be','to','of','and','that','have','with'])) >= 2))
           AS keep
FROM (
    SELECT doc_id, text,
           list_sum(list_transform({_WORDS}, w -> length(w)))
               / CAST(len({_WORDS}) AS DOUBLE) AS ml
    FROM documents
)
""")
def t_gopher_gates(spark, sf_dir):
    """Gopher document-quality gates (Rae et al. 2021 A1.1) as
    auditable per-rule booleans + their conjunction — one codegen scan
    (ops/text_analysis.py:gopher_gates)."""
    from graphraft_spark.ops.text_analysis import gopher_gates

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return gopher_gates(d)


@register(
    "t_url_canon", extra=True,
    oracle="""
SELECT doc_id,
       'http://example.com/' || source || '/' || CAST(doc_id AS VARCHAR)
       || CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN '?a=1&b=2' WHEN 1 THEN '?a=1' ELSE '' END
           AS canon,
       'example.com' AS host
FROM documents
""")
def t_url_canon(spark, sf_dir):
    """URL canonicalization (ops/url.py): the corpus has no URL column,
    so messy URLs are synthesized per doc (uppercase scheme/host,
    default port, tracking params, unsorted query, trailing slash,
    fragment) and the operator must reduce every shape to the oracle's
    closed-form expected canonical string."""
    from graphraft_spark.ops.url import canonicalize_url, url_host

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("HTTP://Example.COM:80/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("?utm_source=x&b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/?a=1#frag"))
        .otherwise(F.lit("")))
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canon"),
        url_host(F.col("url")).alias("host"))


@register(
    "t_cms_wordfreq", extra=True,
    oracle=f"""
WITH w AS (
    SELECT unnest({_WORDS}) AS v FROM documents
),
counts AS (SELECT v, COUNT(*) AS n FROM w GROUP BY v),
top AS (SELECT v, n FROM counts ORDER BY n DESC, v LIMIT 20),
cms AS (
    SELECT d.d AS row,
           ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || w.v), 1, 15))
               ::BIGINT % 2048 AS slot,
           COUNT(*) AS cnt
    FROM w, (VALUES (0),(1),(2),(3)) d(d)
    GROUP BY 1, 2
)
SELECT t.v AS item,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count,
       CAST(MIN(t.n) AS BIGINT) AS true_count
FROM top t
CROSS JOIN (VALUES (0),(1),(2),(3)) d(d)
LEFT JOIN cms c
  ON c.row = d.d
 AND c.slot = ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.v),
               1, 15))::BIGINT % 2048
GROUP BY t.v
""")
def t_cms_wordfreq(spark, sf_dir):
    """Count-min sketch word frequencies (ops/sketches.py cms_build/
    cms_probe, depth 4 × width 2048): the corpus collapses to ≤ 8,192
    counter rows regardless of vocabulary size, and the 20 exact top
    words are probed back — est ≥ true always; equality on a corpus
    this small.  Bit-portable md5 counter indexing, fully oracle-
    replayed (unlike the HLL/GK sketches, which are pytest-gated)."""
    from graphraft_spark.ops.dedup import words as words_col
    from graphraft_spark.ops.sketches import cms_build, cms_probe

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    w = d.select(F.explode(words_col(F.col("text"))).alias("v"))
    cms = cms_build(w, "v", depth=4, width=2048)
    counts = w.groupBy("v").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("v")).limit(20)
    est = cms_probe(cms, top.select("v"), "v", depth=4, width=2048)
    return (est.join(top, est.item == top.v)
            .select("item", "est_count",
                    F.col("n").cast("bigint").alias("true_count")))


@register(
    "t_pack_sequences", extra=True,
    oracle=f"""
WITH sized AS (
    SELECT doc_id, {_WORDS} AS t, len({_WORDS}) AS n
    FROM documents
),
assigned AS (
    SELECT doc_id, t, n,
           CAST(floor(COALESCE(SUM(n) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin_id
    FROM sized
),
binned AS (
    SELECT doc_id, t, n, bin_id,
           COALESCE(SUM(n) OVER (PARTITION BY bin_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
    FROM assigned
)
SELECT bin_id,
       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id),
                       '|') AS doc_ids,
       md5(array_to_string(flatten(list(t ORDER BY doc_id)), ' '))
           AS tokens_md5,
       array_to_string(list(CAST(off AS VARCHAR) ORDER BY doc_id), '|')
           AS boundaries,
       CAST(SUM(n) AS BIGINT) AS n_tokens
FROM binned GROUP BY bin_id
""")
def t_pack_sequences(spark, sf_dir):
    """Sequence packing (ops/text_analysis.py pack_sequences): docs'
    word tokens concatenated into 512-token bins with per-document
    boundary offsets — the attention-mask-reset packing step of a
    pretraining pipeline.  Arrays serialize ('|'-joined / md5) so the
    compared columns stay scalar; the distributed binner must equal
    the oracle's single-window replay exactly."""
    from graphraft_spark.ops.dedup import words as words_col
    from graphraft_spark.ops.text_analysis import pack_sequences

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    toks = d.select("doc_id", words_col(F.col("text")).alias("tokens"))
    out = pack_sequences(toks, budget=512)
    return out.select(
        "bin_id",
        F.concat_ws("|", F.transform(
            "doc_ids", lambda x: x.cast("string"))).alias("doc_ids"),
        F.md5(F.array_join("tokens", " ")).alias("tokens_md5"),
        F.concat_ws("|", F.transform(
            "boundaries", lambda x: x.cast("string"))).alias("boundaries"),
        "n_tokens")


@register(
    "t_span_corruption", extra=True,
    oracle=f"""
WITH base AS (
    SELECT doc_id, {_WORDS} AS w,
           CAST(ceil(len({_WORDS}) / 3.0) AS INT) AS n_win
    FROM documents
),
m AS (
    SELECT doc_id, w,
           range(0, greatest(n_win, 1)) AS wins,
           list_filter(range(0, greatest(n_win, 1)),
               x -> len(w) > 0
                    AND ('0x' || substr(md5('t5' || CAST(doc_id AS VARCHAR)
                         || ':' || CAST(x AS VARCHAR)), 1, 15))::BIGINT
                        % 1000000 < 150000) AS mk
    FROM base
)
SELECT doc_id,
       md5(COALESCE(array_to_string(flatten(list_transform(wins,
           x -> CASE WHEN list_contains(mk, x)
                THEN ['<extra_id_' || CAST(list_position(mk, x) - 1
                                           AS VARCHAR) || '>']
                ELSE w[x*3+1 : x*3+3] END)), ' '), '')) AS input_md5,
       md5(COALESCE(array_to_string(flatten(list_transform(mk,
           x -> list_prepend('<extra_id_' || CAST(list_position(mk, x) - 1
                             AS VARCHAR) || '>',
                             w[x*3+1 : x*3+3]))), ' '), '')) AS target_md5,
       CAST(COALESCE(list_sum(list_transform(mk,
           x -> len(w[x*3+1 : x*3+3]))), 0) AS BIGINT) AS n_masked,
       CAST(len(mk) AS INT) AS n_sentinels
FROM m
""")
def t_span_corruption(spark, sf_dir):
    """T5 span-corruption pairs (ops/text_analysis.py span_corruption):
    deterministic hash-gated 3-token windows at 15% mask rate —
    sentinel-numbered inputs and sentinel-delimited targets,
    md5-serialized so the compared columns stay scalar."""
    from graphraft_spark.ops.dedup import words as words_col
    from graphraft_spark.ops.text_analysis import span_corruption

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    toks = d.select("doc_id", words_col(F.col("text")).alias("tokens"))
    out = span_corruption(toks)
    n_sent = (F.size("target_tokens") - F.col("n_masked")).cast("int")
    return out.select(
        "doc_id",
        F.md5(F.array_join("input_tokens", " ")).alias("input_md5"),
        F.md5(F.array_join("target_tokens", " ")).alias("target_md5"),
        "n_masked",
        n_sent.alias("n_sentinels"))


@register(
    "t_langid_margin", extra=True,
    oracle=f"""
WITH scores AS (
    SELECT doc_id, lang,
           list_sort([
               {{'neg': -ROUND(CAST({_stop_sql('de')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'de'}},
               {{'neg': -ROUND(CAST({_stop_sql('en')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'en'}},
               {{'neg': -ROUND(CAST({_stop_sql('es')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'es'}},
               {{'neg': -ROUND(CAST({_stop_sql('fr')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'fr'}}
           ]) AS s
    FROM documents
)
SELECT doc_id,
       CASE WHEN ROUND(-s[1].neg - -s[2].neg, 9) >= 0.02
            THEN s[1].lang ELSE 'und' END AS predicted_lang,
       ROUND(-s[1].neg - -s[2].neg, 6) AS margin
FROM scores
""")
def t_langid_margin(spark, sf_dir):
    """Language-ID with a confidence margin: top1−top2 stopword-ratio
    gap; below 0.02 the document is labeled 'und' instead of a coin
    flip — the abstain convention every production langid system
    carries (fastText's threshold flag).  Same scan as t_langid."""
    from graphraft_spark.ops.dedup import words as words_col
    from graphraft_spark.ops.text_analysis import STOPWORDS

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    ws = words_col(F.col("text"))
    n = F.size(ws)
    entries = []
    for lang in sorted(STOPWORDS):
        lex = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, w)))
        score = F.round(
            F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0)), 9)
        entries.append(F.struct((-score).alias("neg"),
                                F.lit(lang).alias("lang")))
    s = F.array_sort(F.array(*entries))
    top = -F.element_at(s, 1)["neg"]
    second = -F.element_at(s, 2)["neg"]
    margin = F.round(top - second, 9)
    return d.select(
        "doc_id",
        F.when(margin >= 0.02, F.element_at(s, 1)["lang"])
        .otherwise(F.lit("und")).alias("predicted_lang"),
        F.round(top - second, 6).alias("margin"))


@register(
    "t_tfidf_topterms", extra=True,  # demoted r13 (eighth wave)
    oracle=f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS words FROM documents
),
terms AS (
    SELECT doc_id, g AS term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(words) AS g FROM w)
    WHERE g <> '' GROUP BY doc_id, g
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM terms GROUP BY term),
scored AS (
    SELECT t.doc_id, t.term, t.tf,
           ROUND(t.tf * (ln((nd.n + 1.0) / (d.df_t + 1.0)) + 1), 6)
               AS score
    FROM terms t JOIN dfreq d USING (term) CROSS JOIN nd
),
ranked AS (
    SELECT doc_id, term, tf, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""")
def t_tfidf_topterms(spark, sf_dir):
    """Corpus-relative keyword extraction (ops/text_analysis.py
    tfidf_top_terms): top-3 TF-IDF terms per document, smooth-idf
    (sklearn formulation), deterministic tie order.  One (doc, term)
    aggregate with map-side combine, a vocabulary-bounded df aggregate
    (no broadcast hint — AQE decides), one per-document window."""
    from graphraft_spark.ops.text_analysis import tfidf_top_terms

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, m=3)


@register(
    "p_curate_corpus",
    oracle=f"""
WITH ml AS (
    SELECT doc_id, text,
           list_sum(list_transform({_WORDS}, w -> length(w)))
               / CAST(len({_WORDS}) AS DOUBLE) AS ml
    FROM documents
),
flags AS (
    SELECT doc_id,
           (NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{{')) AS c4_kept,
           {_GOPHER_KEEP_SQL.strip()} AS gopher_kept,
           (list_sort([
               {{'neg': -ROUND(CAST({_stop_sql('de')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'de'}},
               {{'neg': -ROUND(CAST({_stop_sql('en')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'en'}},
               {{'neg': -ROUND(CAST({_stop_sql('es')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'es'}},
               {{'neg': -ROUND(CAST({_stop_sql('fr')} AS DOUBLE)
                               / len({_WORDS}), 9), 'lang': 'fr'}}
           ]))[1].lang AS lang_pred
    FROM ml
),
keyed AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY md5({_NORM})
                              ORDER BY doc_id) = 1 AS is_canonical
    FROM documents
),
w AS (
    SELECT doc_id, {_WORDS} AS words FROM documents
),
bench AS (
    SELECT DISTINCT array_to_string(words[4:11], ' ') AS g
    FROM w WHERE doc_id % 7 = 3 AND len(words) >= 11
),
grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 7, 1) + 1),
               i -> array_to_string(words[i:i+7], ' ')))) AS g
    FROM w
),
hits AS (
    SELECT doc_id, COUNT(*) AS n_hits
    FROM grams JOIN bench USING (g)
    GROUP BY doc_id
)
SELECT f.doc_id, f.c4_kept, f.gopher_kept, f.lang_pred,
       f.lang_pred = 'en' AS ok_lang,
       k.is_canonical,
       COALESCE(h.n_hits, 0) > 0 AS contaminated,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       (f.c4_kept AND f.gopher_kept AND f.lang_pred = 'en'
        AND k.is_canonical AND COALESCE(h.n_hits, 0) = 0) AS keep_final
FROM flags f
JOIN keyed k USING (doc_id)
LEFT JOIN hits h USING (doc_id)
""")
def p_curate_corpus(spark, sf_dir):
    """THE composed curation recipe (ops/curation.py curate_corpus):
    C4 doc gates + all five Gopher rules + stopword language-ID +
    exact-dedup canonical pick + 8-gram benchmark decontamination
    (same synthetic eval set as t_decontaminate), one auditable
    verdict row per document.  Engine shape: the flag stage is ONE
    codegen scan (expression-level rule builders), dedup is its one
    keyed shuffle, decontamination the only second pass.  The oracle
    replays every stage in a single CTE chain."""
    from graphraft_spark.ops.curation import curate_corpus
    from graphraft_spark.ops.dedup import words as words_col

    from graphraft_spark.ops.text_analysis import predicted_lang_rounded

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    ws = words_col(F.col("text"))
    bench = (docs.filter((F.col("doc_id") % 7 == 3) & (F.size(ws) >= 11))
             .select(F.concat_ws(" ", F.slice(ws, 4, 8)).alias("text")))
    # rounded-score language ranking so oracle tie-order matches
    return curate_corpus(docs, bench, n=8,
                         lang_expr=predicted_lang_rounded(F.col("text")))


_WORD_PAIRS_CTE = f"""    SELECT prev AS c, cur AS x, CAST(COUNT(*) AS DOUBLE) AS w
    FROM (
        SELECT w[i] AS prev, w[i + 1] AS cur
        FROM (SELECT string_split({_NORM}, ' ') AS w FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
        WHERE len(w) >= 2
    ) GROUP BY prev, cur"""


from graphraft_spark.registry._sql_fragments import (  # noqa: E402
    sgns_replay_sql as _sgns_replay_sql,
)


@register("t_word_embeddings", extra=True,
          oracle=_sgns_replay_sql(_WORD_PAIRS_CTE, 4, 2, 0.05, 2))
def t_word_embeddings(spark, sf_dir):
    """The SGNS trainer on the TEXT modality: word embeddings from the
    corpus's adjacent-word transition counts (ops/word_lm.py
    _transitions — the same tokenization as the bigram LM), dim=4,
    2 epochs, 2 hash-drawn negative slots.  Vocabulary = every corpus
    word; the embedding table is a DataFrame throughout, so a 100 TB
    corpus vocabulary never concentrates anywhere.  Hash-matched via
    the shared unrolled-SQL SGNS replay (registry/_sql_fragments.py
    sgns_replay_sql) instantiated with the word-pair CTE."""
    from graphraft_spark.graph.embeddings import train_sgns
    from graphraft_spark.ops.word_lm import _transitions

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    pairs = (_transitions(docs, "text", "doc_id")
             .groupBy(F.col("prev").alias("center"),
                      F.col("cur").alias("context"))
             .agg(F.count("*").alias("cnt")))
    emb = train_sgns(pairs, dim=4, epochs=2, lr=0.05, negatives=2)
    return (emb.select("node", F.posexplode("emb").alias("pos", "val"))
            .select("node", F.col("pos").cast("int").alias("pos"),
                    F.round("val", 6).alias("val")))


@register("t_word_embeddings_u75",  # promoted r12 (seventh wave)
          oracle=_sgns_replay_sql(_WORD_PAIRS_CTE, 4, 2, 0.05, 2,
                                  neg_distribution="unigram75"))
def t_word_embeddings_u75(spark, sf_dir):
    """t_word_embeddings with the word2vec NOISE DISTRIBUTION:
    negatives drawn ∝ freq^{3/4} (Mikolov et al. 2013 §2.2) instead of
    uniformly — the reference-faithful variant for natural-language
    vocabularies, where uniform negatives oversample the rare tail.
    The draw is exact and distributed (graph/embeddings.py: integer
    inverse-CDF intervals + bucket-table equi-join, context interval
    excised); the oracle replays the identical arithmetic, so the line
    is hash-matched like the uniform twin."""
    from graphraft_spark.graph.embeddings import train_sgns
    from graphraft_spark.ops.word_lm import _transitions

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    pairs = (_transitions(docs, "text", "doc_id")
             .groupBy(F.col("prev").alias("center"),
                      F.col("cur").alias("context"))
             .agg(F.count("*").alias("cnt")))
    emb = train_sgns(pairs, dim=4, epochs=2, lr=0.05, negatives=2,
                     neg_distribution="unigram75")
    return (emb.select("node", F.posexplode("emb").alias("pos", "val"))
            .select("node", F.col("pos").cast("int").alias("pos"),
                    F.round("val", 6).alias("val")))


@register("t_word_embeddings_w2v",  # promoted r12 (seventh wave)
          oracle=_sgns_replay_sql(_WORD_PAIRS_CTE, 4, 2, 0.05, 2,
                                  neg_distribution="unigram75",
                                  lr_decay=True, subsample_t=1e-3))
def t_word_embeddings_w2v(spark, sf_dir):
    """The COMPLETE word2vec training recipe in one run: unigram^0.75
    noise distribution + linear learning-rate decay + frequent-word
    subsampling (deterministic expected-weight form of the Bernoulli
    thinning, t=1e-3) — every knob of Mikolov et al. 2013 §2.2-2.3
    the full-batch trainer expresses, each mirrored into the same
    unrolled-SQL replay, so the full composition is hash-matched like
    the single-knob twins."""
    from graphraft_spark.graph.embeddings import train_sgns
    from graphraft_spark.ops.word_lm import _transitions

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    pairs = (_transitions(docs, "text", "doc_id")
             .groupBy(F.col("prev").alias("center"),
                      F.col("cur").alias("context"))
             .agg(F.count("*").alias("cnt")))
    emb = train_sgns(pairs, dim=4, epochs=2, lr=0.05, negatives=2,
                     neg_distribution="unigram75",
                     lr_decay=True, subsample_t=1e-3)
    return (emb.select("node", F.posexplode("emb").alias("pos", "val"))
            .select("node", F.col("pos").cast("int").alias("pos"),
                    F.round("val", 6).alias("val")))


@register("t_word_embeddings_decay", extra=True,
          oracle=_sgns_replay_sql(_WORD_PAIRS_CTE, 4, 2, 0.05, 2,
                                  neg_distribution="unigram75",
                                  lr_decay=True, subsample_t=1e-3,
                                  subsample_mode="hash"))
def t_word_embeddings_decay(spark, sf_dir):
    """t_word_embeddings_w2v with the HASH-DECIDED subsampling
    (r12 verdict item 4): linear per-epoch LR decay + frequent-word
    thinning where occurrence k of each pair survives a deterministic
    per-occurrence Bernoulli (portable md5 uniform < p_keep(c)·
    p_keep(x)) — word2vec.c's actual coin flip, not its expectation,
    with zero-survivor pairs dropped from the batch exactly as
    discarded occurrences vanish from the stream.  Per-occurrence work
    equals corpus size (the reference's own complexity); the
    expected-weight twin (t_word_embeddings_w2v) is the aggregated
    scale path.  The oracle replays the identical thinning inside the
    unrolled-SQL SGNS replay, so the line is hash-matched like its
    twins."""
    from graphraft_spark.graph.embeddings import train_sgns
    from graphraft_spark.ops.word_lm import _transitions

    docs = load_pq(spark, f"{sf_dir}/documents.parquet")
    pairs = (_transitions(docs, "text", "doc_id")
             .groupBy(F.col("prev").alias("center"),
                      F.col("cur").alias("context"))
             .agg(F.count("*").alias("cnt")))
    emb = train_sgns(pairs, dim=4, epochs=2, lr=0.05, negatives=2,
                     neg_distribution="unigram75",
                     lr_decay=True, subsample_t=1e-3,
                     subsample_mode="hash")
    return (emb.select("node", F.posexplode("emb").alias("pos", "val"))
            .select("node", F.col("pos").cast("int").alias("pos"),
                    F.round("val", 6).alias("val")))



@register(
    "t_quality_gate_scalable",  # promoted r13 (eighth wave)
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           ROUND(0.4 * LEAST(CAST({_stop_sql('en')} AS DOUBLE)
                             / GREATEST(len({_WORDS}), 1) * 4, 1.0)
                 + 0.3 * (CASE WHEN len({_WORDS}) > 0 AND
                               list_sum(list_transform({_WORDS},
                                        w -> len(w))) / len({_WORDS})
                               BETWEEN 3 AND 10 THEN 1 ELSE 0 END)
                 + 0.3 * (1 - LEAST(CAST(len(regexp_extract_all(text,
                          '[^\\w\\s]')) AS DOUBLE)
                          / GREATEST(length(text), 1) * 5, 1.0)), 6)
               AS quality
    FROM documents
),
ranked AS (
    SELECT doc_id, quality,
           percent_rank() OVER (ORDER BY quality, doc_id) AS pr
    FROM scored
)
SELECT doc_id, quality FROM ranked WHERE pr >= 0.25
""")
def t_quality_gate_scalable(spark, sf_dir):
    """The 100 TB form of t_quality_gate: the SAME bottom-25% keep set
    (the oracle IS the percent_rank form) computed with NO row-level
    global sort or window — ops/quantile.py keep_top_fraction builds a
    value histogram (bounded by the 6-dp score domain, ≤ 1,000,001
    rows at any corpus size — the only global window runs over it),
    derives the exact integer rank threshold, and gates the corpus in
    one pass with a per-VALUE (partitioned) window for the boundary
    tiebreak.  Scores are rounded to 6 dp BEFORE ranking on both
    engines, so the gate's total order is identical bit-for-bit.
    Closes the scale path the t_quality_gate docstring documents."""
    from graphraft_spark.ops.quantile import keep_top_fraction
    from graphraft_spark.ops.text_analysis import quality_score

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    scored = d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))
    return keep_top_fraction(scored, "quality", "doc_id", 1, 4)
