"""Text-analysis operators over the `documents` table (SURVEY.md §2.10):
token statistics, n-gram-heuristic language ID, quality scoring, token
counting. All pure column expressions (JVM-side, whole-stage codegen) —
no Python UDF anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from harmony_spark.io import table
from harmony_spark.registry import register

# Tiny per-language marker sets for the n-gram/stopword language-ID
# heuristic. Deterministic; quality of the guess is irrelevant to the
# correctness check (the oracle applies the identical rule).
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(F.col(col)), r"\s+")


@register(
    "q32_token_stats",
    oracle="""
        SELECT lang, COUNT(*) AS docs, ROUND(AVG(n_chars), 6) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Corpus token statistics grouped by language label.",
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("docs"), F.round(F.avg("n_chars"), 6).alias("avg_chars"))
        .orderBy("lang")
    )


def _marker_count_sql(words: list[str]) -> str:
    pat = "|".join(words)
    return f"len(regexp_extract_all(lower(text), '\\\\b({pat})\\\\b'))"


def _marker_count_spark(words: list[str]) -> Column:
    pat = "|".join(words)
    return F.regexp_count(F.lower(F.col("text")), F.lit(rf"\b({pat})\b"))


@register(
    "q39_lang_id",
    oracle=f"""
        SELECT predicted, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM (
          SELECT lang,
                 CASE GREATEST({_marker_count_sql(_LANG_MARKERS['en'])},
                               {_marker_count_sql(_LANG_MARKERS['es'])},
                               {_marker_count_sql(_LANG_MARKERS['fr'])},
                               {_marker_count_sql(_LANG_MARKERS['de'])})
                   WHEN {_marker_count_sql(_LANG_MARKERS['en'])} THEN 'en'
                   WHEN {_marker_count_sql(_LANG_MARKERS['es'])} THEN 'es'
                   WHEN {_marker_count_sql(_LANG_MARKERS['fr'])} THEN 'fr'
                   ELSE 'de' END AS predicted
          FROM documents) t
        GROUP BY predicted ORDER BY predicted
    """,
    doc="Language-ID n-gram/stopword heuristic: argmax of per-language "
    "marker-word counts (first match wins on ties, en > es > fr > de). "
    "Reported as a confusion summary against the stored label.",
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    counts = {lg: _marker_count_spark(ws) for lg, ws in _LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    predicted = (
        F.when(counts["en"] == best, F.lit("en"))
        .when(counts["es"] == best, F.lit("es"))
        .when(counts["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return (
        table(spark, sf, "documents")
        .select("lang", predicted.alias("predicted"))
        .groupBy("predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("predicted")
    )


@register(
    "q40_quality_score",
    oracle="""
        SELECT source,
               ROUND(AVG(n_tokens), 6) AS avg_tokens,
               ROUND(AVG(CAST(n_chars AS DOUBLE) / n_tokens), 6) AS avg_token_len,
               ROUND(AVG(CASE WHEN n_tokens BETWEEN 20 AND 60 THEN 1.0 ELSE 0.0 END), 6) AS frac_good_len
        FROM (SELECT source, n_chars,
                     len(string_split_regex(lower(text), '\\s+')) AS n_tokens
              FROM documents) t
        GROUP BY source ORDER BY source
    """,
    doc="Document quality scoring: token counts, mean token length, and a "
    "length-window quality fraction, per source (the length/punct/stopword "
    "ratio family).",
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    n_tokens = F.size(_tokens())
    return (
        table(spark, sf, "documents")
        .select("source", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double") / F.col("n_tokens")), 6).alias(
                "avg_token_len"
            ),
            F.round(
                F.avg(F.when(F.col("n_tokens").between(20, 60), 1.0).otherwise(0.0)), 6
            ).alias("frac_good_len"),
        )
        .orderBy("source")
    )


@register(
    "q46_tfidf_top_terms",
    oracle="""
        WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
                     FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, tok, ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
               CAST(rn AS BIGINT) AS rn
        FROM (SELECT doc_id, tok, tf, df, n_docs,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) DESC, tok) AS rn
              FROM tf JOIN df USING (tok) CROSS JOIN n) t
        WHERE rn <= 3 AND doc_id < 20 ORDER BY doc_id, rn
    """,
    doc="TF-IDF top terms per document: token explode -> tf hash-agg, df "
    "hash-agg, broadcast df back, rank per doc. At 100 TB both "
    "aggregates are map-side-combined on the token key; the df table is "
    "vocabulary-sized and broadcasts.",
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    tfidf = F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("tok"))
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .select("doc_id", "tok", tfidf.alias("tfidf"), F.row_number().over(w).cast("long").alias("rn"))
        .where((F.col("rn") <= 3) & (F.col("doc_id") < 20))
        .orderBy("doc_id", "rn")
    )


@register(
    "q47_bpe_token_counts",
    oracle="""
        SELECT source,
               CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS n_bpe_tokens,
               CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_ws_tokens
        FROM documents GROUP BY source ORDER BY source
    """,
    doc="Token counting two ways: whitespace split and a BPE-ish regex "
    "(lowercase runs / capitalized pieces / digit runs / punctuation), "
    "per source — the pretraining-pipeline token-budget estimator.",
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    bpe = F.regexp_count(F.col("text"), F.lit(r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]"))
    ws = F.size(F.split(F.col("text"), r"\s+"))
    return (
        table(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.sum(bpe).cast("long").alias("n_bpe_tokens"),
            F.sum(ws).cast("long").alias("n_ws_tokens"),
        )
        .orderBy("source")
    )


@register(
    "q42_token_frequencies",
    oracle="""
        SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
              FROM documents) t
        GROUP BY tok ORDER BY tf DESC, tok LIMIT 50
    """,
    doc="Global term/document frequencies (the TF/IDF building block): "
    "explode tokens -> one hash-agg shuffle keyed by token.",
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "documents")
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), "tok")
        .limit(50)
    )


# Fixed scrub list for q84 — the redaction machinery (word-boundary
# regexp_replace) is what matters; swap the pattern for PII regexes
# (emails/phones/SSNs) on a real corpus.
_SCRUB_PATTERN = r"\b(the|a|and|of|to)\b"


@register(
    "q84_regex_scrub",
    oracle=r"""
        SELECT source,
               COUNT(*) AS docs,
               CAST(SUM(len(text)) AS BIGINT) AS raw_chars,
               CAST(SUM(len(regexp_replace(lower(text), '\b(the|a|and|of|to)\b', '', 'g'))) AS BIGINT) AS scrubbed_chars
        FROM documents GROUP BY source ORDER BY source
    """,
    doc="Regex redaction/scrub transform: word-boundary regexp_replace "
    "over every document, per-source before/after char accounting. The "
    "PII-redaction shape for a training pipeline — pattern is a constant, "
    "the transform is a pure JVM column expression (no UDF), so the scan "
    "+ replace pipeline stays in whole-stage codegen and scales linearly "
    "with corpus bytes; no shuffle until the tiny per-source aggregate.",
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    scrubbed = F.regexp_replace(F.lower(F.col("text")), _SCRUB_PATTERN, "")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.length("text")).cast("long").alias("raw_chars"),
            F.sum(F.length(scrubbed)).cast("long").alias("scrubbed_chars"),
        )
        .orderBy("source")
    )


@register(
    "q85_bigram_counts",
    oracle=r"""
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS bigram
              FROM (SELECT string_split_regex(lower(text), '\s+') AS toks
                    FROM documents) t) s
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
    doc="Bigram language-model statistics: adjacent-token pairs via a "
    "higher-order transform over the token array (no self-join — the "
    "classic n-gram-by-join formulation would shuffle the corpus "
    "against itself; this stays row-local until a count aggregate on "
    "short bigram strings), then global top-20.",
)
def q85(spark: SparkSession, sf: str) -> DataFrame:
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"
    )
    return (
        table(spark, sf, "documents")
        .select(_tokens().alias("toks"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "q99_repetition_metrics",
    oracle=r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents WHERE doc_id < 200
        ),
        tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          FROM t WHERE len(toks) >= 3
        ),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])) AS g
          FROM t WHERE len(toks) >= 2
        ),
        tri_stats AS (
          SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS d_tri
          FROM tri GROUP BY doc_id
        ),
        bi_top AS (
          SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bi
          FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g)
          GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(ts.n_tri AS BIGINT) AS n_tri,
               ROUND(1.0 - ts.d_tri * 1.0 / ts.n_tri, 6) AS dup_tri_frac,
               ROUND(bt.top_c * 1.0 / bt.n_bi, 6) AS top_bigram_frac
        FROM t JOIN tri_stats ts ON ts.doc_id = t.doc_id
        JOIN bi_top bt ON bt.doc_id = t.doc_id
        ORDER BY t.doc_id
    """,
    doc="Gopher-family repetition signals per document (the pretraining "
    "quality-filter pair): duplicate-trigram fraction "
    "(1 - distinct/total) and most-common-bigram mass fraction. High "
    "values flag boilerplate/keyword-stuffed documents that length or "
    "stopword heuristics (q40) miss. Shuffle shape: two exploded "
    "hash aggregates keyed on (doc_id[, gram]) - linear in corpus "
    "size, the same census plan at any scale.",
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").where(F.col("doc_id") < 200)
    toks = docs.select("doc_id", _tokens().alias("toks"))
    tri = F.expr(
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"
    )
    bi = F.expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"
    )
    tri_stats = (
        toks.where(F.size("toks") >= 3)
        .select("doc_id", F.explode(tri).alias("g"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"), F.countDistinct("g").alias("d_tri"))
    )
    bi_top = (
        toks.where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bi).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bi"))
    )
    return (
        tri_stats.join(bi_top, "doc_id")
        .select(
            "doc_id",
            F.col("n_tri").cast("long").alias("n_tri"),
            F.round(1.0 - F.col("d_tri") / F.col("n_tri"), 6).alias("dup_tri_frac"),
            F.round(F.col("top_c") / F.col("n_bi"), 6).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "q110_unigram_surprisal",
    oracle=r"""
        WITH tok AS (
          SELECT doc_id, source,
                 unnest(string_split_regex(lower(text), '\s+')) AS tok
          FROM documents
        ),
        vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        tot AS (SELECT SUM(c) AS n FROM vocab),
        surpr AS (
          SELECT t.doc_id, t.source,
                 AVG(-log2(v.c * 1.0 / tot.n)) AS s
          FROM tok t JOIN vocab v ON v.tok = t.tok CROSS JOIN tot
          GROUP BY t.doc_id, t.source
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(s), 4) AS avg_surprisal,
               ROUND(MIN(s), 4) AS min_surprisal,
               ROUND(MAX(s), 4) AS max_surprisal
        FROM surpr GROUP BY source ORDER BY source
    """,
    doc="Unigram-LM surprisal quality score (the cheap stand-in for "
    "perplexity filtering in pretraining pipelines: documents whose "
    "mean per-token surprisal under a corpus-fit unigram model is an "
    "outlier are gibberish or boilerplate). Two passes: a vocabulary "
    "census (hash agg on short token strings), then a broadcast join "
    "of the vocabulary-sized probability table back onto the exploded "
    "corpus. At 100 TB the corpus explodes linearly and shuffles only "
    "(doc_id)-keyed partial averages; the model table stays "
    "vocabulary-sized and broadcasts - no corpus-vs-corpus shuffle.",
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    tok = (
        table(spark, sf, "documents")
        .select("doc_id", "source", F.explode(_tokens()).alias("tok"))
    )
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    surpr = (
        tok.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.avg(-F.log2(F.col("c") / F.col("n"))).alias("s"))
    )
    return (
        surpr.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("s"), 4).alias("avg_surprisal"),
            F.round(F.min("s"), 4).alias("min_surprisal"),
            F.round(F.max("s"), 4).alias("max_surprisal"),
        )
        .orderBy("source")
    )


@register(
    "q111_domain_kl_drift",
    oracle=r"""
        WITH tok AS (
          SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
          FROM documents
        ),
        src AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
        srctot AS (SELECT source, SUM(c) AS n FROM src GROUP BY source),
        corp AS (SELECT tok, SUM(c) AS cc FROM src GROUP BY tok),
        corptot AS (SELECT SUM(cc) AS nn FROM corp)
        SELECT s.source,
               CAST(st.n AS BIGINT) AS n_tokens,
               ROUND(SUM((s.c * 1.0 / st.n)
                         * log2((s.c * 1.0 / st.n) / (c.cc * 1.0 / ct.nn))), 4)
                 AS kl_bits
        FROM src s
        JOIN srctot st ON st.source = s.source
        JOIN corp c ON c.tok = s.tok
        CROSS JOIN corptot ct
        GROUP BY s.source, st.n ORDER BY s.source
    """,
    doc="Per-domain distribution drift: KL(p_domain || p_corpus) over "
    "unigram token distributions, in bits. The domain-mixing "
    "diagnostic for training-corpus assembly - a domain whose KL "
    "spikes between snapshots changed character (spam influx, scrape "
    "drift) and its mixing weight (q108) needs review. Everything "
    "after the one exploded census is vocabulary-sized: the "
    "(source, tok) counts aggregate map-side, and the corpus "
    "marginal + totals broadcast back onto it.",
)
def q111(spark: SparkSession, sf: str) -> DataFrame:
    tok = table(spark, sf, "documents").select(
        "source", F.explode(_tokens()).alias("tok")
    )
    src = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    srctot = src.groupBy("source").agg(F.sum("c").alias("n"))
    corp = src.groupBy("tok").agg(F.sum("c").alias("cc"))
    corptot = corp.agg(F.sum("cc").alias("nn"))
    p_s = F.col("c") / F.col("n")
    p_c = F.col("cc") / F.col("nn")
    return (
        src.join(F.broadcast(srctot), "source")
        .join(F.broadcast(corp), "tok")
        .crossJoin(F.broadcast(corptot))
        .groupBy("source", "n")
        .agg(F.round(F.sum(p_s * F.log2(p_s / p_c)), 4).alias("kl_bits"))
        .select("source", F.col("n").cast("long").alias("n_tokens"), "kl_bits")
        .orderBy("source")
    )


_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_sql(terms=_BM25_TERMS) -> str:
    """DuckDB CTE chain ending in bm25(doc_id, len, bm25) — unrounded,
    shared by the q121 oracle and the q122 hybrid-fusion oracle."""
    quoted = ", ".join(f"'{t}'" for t in terms)
    return rf"""
        tok AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
          FROM documents
        ),
        dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM dl),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM tok
          WHERE tok IN ({quoted}) GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        bm25 AS (
          SELECT tf.doc_id,
                 SUM(
                   ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.len / stats.avgdl))
                 ) AS bm25
          FROM tf
          JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
    """


def bm25_table(spark: SparkSession, sf: str, terms=_BM25_TERMS) -> DataFrame:
    """Unrounded BM25 scores (doc_id, bm25) for a fixed term set —
    the engine core behind q121 and the lexical leg of q122.
    Session-memoized (the scores table is the serve-time artifact a
    lexical index materializes once): the full-corpus tokenize/explode
    feeds TWO branches (doc lengths + term frequencies), so a warm
    session skips both passes for every consumer."""
    from harmony_spark.io import session_memo

    return session_memo(
        spark,
        ("bm25_table", sf, tuple(terms)),
        lambda: _bm25_table_build(spark, sf, terms),
    )


def _bm25_table_build(spark: SparkSession, sf: str, terms) -> DataFrame:
    tok = table(spark, sf, "documents").select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("len").alias("avgdl"))
    tf = (
        tok.where(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("len") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / norm).alias("bm25"))
    )


@register(
    "q121_bm25_scores",
    oracle=f"""
        WITH {_bm25_sql()}
        SELECT doc_id, ROUND(bm25, 6) AS bm25
        FROM bm25 ORDER BY doc_id
    """,
    doc="BM25 full-text relevance scoring (Robertson k1=1.2 b=0.75) for "
    "a fixed 3-term query over the whole corpus - the lexical-search "
    "half of every hybrid RAG retrieval stack. One exploded census "
    "builds doc lengths and per-(doc, query-term) term frequencies; "
    "document frequencies and the corpus stats are term-sized / 1-row "
    "aggregates that broadcast back. At 100 TB the only corpus-sized "
    "shuffles are the two doc_id-keyed aggregates; a real deployment "
    "would additionally prefilter by an inverted-index semi-join on "
    "the query terms, which is exactly the tf CTE here.",
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    return (
        bm25_table(spark, sf)
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy("doc_id")
    )


@register(
    "q155_pii_census",
    oracle=r"""
        WITH aug AS (
          SELECT doc_id, source,
                 text ||
                 CASE WHEN doc_id % 7 = 0 THEN ' card 4532015112830366' ELSE '' END ||
                 CASE WHEN doc_id % 7 = 1 THEN ' card 4532015112830367' ELSE '' END ||
                 CASE WHEN doc_id % 11 = 0 THEN ' contact bob@example.com' ELSE '' END ||
                 CASE WHEN doc_id % 13 = 0 THEN ' call 555-867-5309' ELSE '' END
                   AS text
          FROM documents
        ),
        hits AS (
          SELECT source,
                 CAST(regexp_matches(text,
                      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}') AS INT) AS has_email,
                 CAST(regexp_matches(text, '\d{3}-\d{3}-\d{4}') AS INT) AS has_phone,
                 regexp_extract(text, '(^|[^0-9])([0-9]{16})([^0-9]|$)', 2) AS card
          FROM aug
        ),
        luhn AS (
          SELECT source, has_email, has_phone,
                 CASE WHEN card = '' THEN 0 ELSE 1 END AS has_card,
                 CASE WHEN card = '' THEN 0
                      WHEN (SELECT SUM(CASE WHEN i % 2 = 1 THEN d
                                 WHEN 2 * d > 9 THEN 2 * d - 9
                                 ELSE 2 * d END)
                            FROM (SELECT TRY_CAST(v.x AS INT) AS d,
                                         ROW_NUMBER() OVER () AS i
                                  FROM (SELECT u.x FROM
                                        UNNEST(string_split(reverse(card), '')) u(x)
                                        WHERE u.x <> '') v)
                           ) % 10 = 0 THEN 1 ELSE 0 END AS card_valid
          FROM hits
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(has_email) AS BIGINT) AS n_email,
               CAST(SUM(has_phone) AS BIGINT) AS n_phone,
               CAST(SUM(has_card) AS BIGINT) AS n_card_like,
               CAST(SUM(card_valid) AS BIGINT) AS n_card_valid
        FROM luhn GROUP BY source ORDER BY source
    """,
    doc="PII detection census with checksum validation: per-source "
    "counts of email, phone, and 16-digit card-like patterns, with "
    "card candidates VALIDATED by the Luhn checksum - the filter that "
    "separates real card numbers from random digit runs (here the "
    "corpus is deterministically augmented with known-valid and "
    "known-invalid fixtures inside the query, replayed identically by "
    "the oracle, since the synthetic corpus carries no natural PII). "
    "Everything is JVM column expressions - regex + a higher-order "
    "digit fold for Luhn, no UDF - so the scan stays in codegen and "
    "the only shuffle is the per-source census. The redaction "
    "transform itself is q84's regexp_replace with these patterns.",
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    aug_text = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, " card 4532015112830366").otherwise(""),
        F.when(F.col("doc_id") % 7 == 1, " card 4532015112830367").otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, " contact bob@example.com").otherwise(""),
        F.when(F.col("doc_id") % 13 == 0, " call 555-867-5309").otherwise(""),
    )
    aug = table_parallel(spark, sf, "documents").select(
        "source", aug_text.alias("text")
    )
    card = F.regexp_extract(F.col("text"), r"(^|[^0-9])([0-9]{16})([^0-9]|$)", 2)
    hits = aug.select(
        "source",
        F.col("text").rlike(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")
        .cast("int")
        .alias("has_email"),
        F.col("text").rlike(r"\d{3}-\d{3}-\d{4}").cast("int").alias("has_phone"),
        card.alias("card"),
    )
    # Luhn over the reversed digit string: odd positions (1-based from
    # the right) add d, even positions add 2d - 9 when 2d > 9 else 2d
    digits = F.split(F.reverse(F.col("card")), "")
    luhn_sum = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(1), F.greatest(F.size(digits), F.lit(1))),
            lambda x, i: F.when(x == "", 0)
            .when(i % 2 == 1, x.cast("int"))
            .when(2 * x.cast("int") > 9, 2 * x.cast("int") - 9)
            .otherwise(2 * x.cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = hits.select(
        "source",
        "has_email",
        "has_phone",
        (F.col("card") != "").cast("int").alias("has_card"),
        F.when(
            (F.col("card") != "") & (luhn_sum % 10 == 0), 1
        ).otherwise(0).alias("card_valid"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("has_email").cast("long").alias("n_email"),
            F.sum("has_phone").cast("long").alias("n_phone"),
            F.sum("has_card").cast("long").alias("n_card_like"),
            F.sum("card_valid").cast("long").alias("n_card_valid"),
        )
        .orderBy("source")
    )


_VOCAB_COVERAGE_KS = (5, 10, 20)  # head sizes to evaluate


@register(
    "q176_vocab_coverage",
    oracle=f"""
        WITH tok AS (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents
        ),
        freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
        ranked AS (
          SELECT f,
                 ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r,
                 SUM(f) OVER () AS total
          FROM freq
        ),
        ks AS (SELECT UNNEST([{', '.join(str(k) for k in _VOCAB_COVERAGE_KS)}]) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(SUM(CAST(f AS DOUBLE)) / MAX(total), 6) AS coverage
        FROM ranked JOIN ks ON ranked.r <= ks.k
        GROUP BY ks.k ORDER BY k
    """,
    doc="Vocabulary coverage curve: the share of corpus token mass "
    "covered by the top-k most frequent words (k = 5/10/20) - the "
    "Zipf head/tail diagnostic that sizes a tokenizer vocabulary "
    "(coverage(k) flattening early means a small vocab suffices; a "
    "long flat tail means byte-fallback will fire constantly). Plan "
    "shape: one exploded word census with map-side combine collapses "
    "the corpus to |vocab| rows; the head is a bounded TakeOrdered "
    "top-max(k) (per-partition heads merged on the driver), the "
    "corpus total a 1-row scalar aggregate broadcast — no window "
    "ever sorts the |vocab| table. n_words < k when the vocabulary "
    "is smaller than the head size.",
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    tok = table(spark, sf, "documents").select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("f"))
    # bounded head: TakeOrdered top-max(k) words, then rank within that
    # <=20-row set; the corpus total is a scalar aggregate broadcast —
    # no window ever sees the |vocab|-row table.
    tot = freq.agg(F.sum("f").alias("total"))
    head = (
        freq.orderBy(F.desc("f"), "w")
        .limit(max(_VOCAB_COVERAGE_KS))
        .localCheckpoint(eager=False)
    )
    ranked = head.select(
        "f",
        F.row_number().over(W.orderBy(F.desc("f"), "w")).alias("r"),
    ).crossJoin(F.broadcast(tot))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_COVERAGE_KS])).alias("k")
    )
    return (
        ranked.join(ks, ranked["r"] <= ks["k"])
        .groupBy(F.col("k").cast("long").alias("k"))
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.round(
                F.sum(F.col("f").cast("double")) / F.max("total"), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


_PMI_MIN_COUNT = 25  # collocation support threshold
_PMI_TOP_K = 15


@register(
    "q200_bigram_pmi",
    oracle=rf"""
        WITH toks AS (
          SELECT doc_id, w, i FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(text), '\s+')) AS w,
                   generate_subscripts(string_split_regex(lower(text), '\s+'),
                                       1) AS i
            FROM documents) t
        ),
        uni AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY w),
        n_uni AS (SELECT SUM(f) AS n FROM uni),
        bi AS (
          SELECT a.w AS w1, b.w AS w2, COUNT(*) AS f2
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.i = a.i + 1
          GROUP BY a.w, b.w
        ),
        n_bi AS (SELECT SUM(f2) AS n2 FROM bi),
        scored AS (
          SELECT bi.w1, bi.w2, bi.f2,
                 ROUND(LN((CAST(bi.f2 AS DOUBLE) / n_bi.n2)
                          / ((CAST(u1.f AS DOUBLE) / n_uni.n)
                             * (CAST(u2.f AS DOUBLE) / n_uni.n))), 6) AS pmi
          FROM bi, n_bi, n_uni
          JOIN uni u1 ON u1.w = bi.w1
          JOIN uni u2 ON u2.w = bi.w2
          WHERE bi.f2 >= {_PMI_MIN_COUNT}
        )
        SELECT w1, w2, CAST(f2 AS BIGINT) AS f2, pmi FROM scored
        ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP_K}
    """,
    doc="Collocation extraction by pointwise mutual information: "
    "adjacent-token bigrams scored PMI = ln(p(ab)/(p(a)p(b))) with a "
    "support threshold (PMI without one surfaces hapax noise), top-k "
    "with a deterministic (pmi, w1, w2) cut — the phrase-mining "
    "primitive behind tokenizer merge candidates and stopword-pair "
    "detection; the statistical upgrade of a raw bigram count "
    "ranking (counts find 'of the', PMI finds true collocations). "
    "Plan shape: one exploded position table joined to itself "
    "doc-locally at offset +1 (equi join on (doc, position) — never "
    "cross-doc), two bounded censuses, and the probability algebra "
    "on the |bigrams|-row summary.",
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    toks = (
        table_parallel(spark, sf, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "i0", "w"
            ),
        )
        .select("doc_id", (F.col("i0") + 1).alias("i"), "w")
        .localCheckpoint(eager=False)
    )
    uni = toks.groupBy("w").agg(F.count("*").alias("f"))
    n_uni = uni.agg(F.sum("f").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    bi_all = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.i") == F.col("a.i") + 1),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").alias("f2"))
        .localCheckpoint(eager=False)
    )
    # normalize by the FULL bigram mass, then threshold: the support
    # filter selects which pairs report, it must not change p(ab)
    n_bi = bi_all.agg(F.sum("f2").alias("n2"))
    bi = bi_all.where(F.col("f2") >= _PMI_MIN_COUNT)
    u1 = uni.select(F.col("w").alias("w1"), F.col("f").alias("f_1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("f").alias("f_2"))
    scored = (
        bi.crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            F.col("f2").cast("long").alias("f2"),
            F.round(
                F.log(
                    (F.col("f2").cast("double") / F.col("n2"))
                    / (
                        (F.col("f_1").cast("double") / F.col("n"))
                        * (F.col("f_2").cast("double") / F.col("n"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(_PMI_TOP_K)


@register(
    "q204_heaps_law",
    oracle=r"""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split_regex(lower(text), '\s+')) AS w
          FROM documents
        ),
        firsts AS (
          SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w
        ),
        per_doc AS (
          SELECT t.doc_id,
                 COUNT(*) AS n_tok,
                 (SELECT COUNT(*) FROM firsts f WHERE f.first_doc = t.doc_id)
                   AS n_new
          FROM toks t GROUP BY t.doc_id
        ),
        curve AS (
          SELECT SUM(n_tok) OVER (ORDER BY doc_id) AS cum_tok,
                 SUM(n_new) OVER (ORDER BY doc_id) AS cum_vocab
          FROM per_doc
        ),
        logs AS (
          SELECT LN(CAST(cum_tok AS DOUBLE)) AS lx,
                 LN(CAST(cum_vocab AS DOUBLE)) AS ly
          FROM curve WHERE cum_vocab > 0
        ),
        s AS (
          SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
                 SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
          FROM logs
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                 AS heaps_beta,
               ROUND(EXP((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n), 6) AS heaps_k
        FROM s
    """,
    doc="Heaps'-law fit: vocabulary growth V(n) = K * n^beta estimated "
    "by OLS on the log-log cumulative (tokens seen, distinct words "
    "seen) curve — beta near 0.5 is natural text, beta near 0 means "
    "a closed vocabulary (this synthetic corpus), beta near 1 means "
    "ids/noise masquerading as text: the third tokenizer-sizing "
    "diagnostic next to q176 (coverage) and q193 (Zipf tail). The "
    "cumulative-vocabulary curve needs no running set: each word "
    "contributes at its FIRST document (min(doc_id) per word), so "
    "new-word counts are an aggregate and the curve is a running "
    "sum over the |docs|-row summary, executed as the two-phase "
    "sharded cumsum (dist_rank.with_global_order_stats — per-shard "
    "windows + broadcast carry, no single-task window). Plan "
    "shape: two exploded censuses + sharded cumsum + one moment "
    "aggregate.",
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from harmony_spark.io import table_parallel

    toks = (
        table_parallel(spark, sf, "documents")
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .localCheckpoint(eager=False)
    )
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_new")
    )
    per_doc = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"))
        .join(new_per_doc, "doc_id", "left")
        .select("doc_id", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
    )
    from harmony_spark.operators.dist_rank import with_global_order_stats

    # toks is checkpointed (fan-out) — explicit stats_token, see q197
    stats, _ = with_global_order_stats(
        per_doc,
        "doc_id",
        sum_cols={"n_tok": "cum_tok", "n_new": "cum_vocab"},
        stats_token=("q204", sf),
    )
    curve = stats.select("cum_tok", "cum_vocab")
    logs = curve.where(F.col("cum_vocab") > 0).select(
        F.log(F.col("cum_tok").cast("double")).alias("lx"),
        F.log(F.col("cum_vocab").cast("double")).alias("ly"),
    )
    s = logs.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6
        ).alias("heaps_k"),
    )


@register(
    "q205_langid_prf1",
    oracle=f"""
        WITH pred AS (
          SELECT lang,
                 CASE GREATEST({_marker_count_sql(_LANG_MARKERS['en'])},
                               {_marker_count_sql(_LANG_MARKERS['es'])},
                               {_marker_count_sql(_LANG_MARKERS['fr'])},
                               {_marker_count_sql(_LANG_MARKERS['de'])})
                   WHEN {_marker_count_sql(_LANG_MARKERS['en'])} THEN 'en'
                   WHEN {_marker_count_sql(_LANG_MARKERS['es'])} THEN 'es'
                   WHEN {_marker_count_sql(_LANG_MARKERS['fr'])} THEN 'fr'
                   ELSE 'de' END AS predicted
          FROM documents
        ),
        classes AS (
          SELECT lang AS cls FROM pred GROUP BY lang
          UNION SELECT predicted FROM pred GROUP BY predicted
        ),
        m AS (
          SELECT c.cls,
                 (SELECT COUNT(*) FROM pred
                  WHERE predicted = c.cls AND lang = c.cls) AS tp,
                 (SELECT COUNT(*) FROM pred
                  WHERE predicted = c.cls AND lang <> c.cls) AS fp,
                 (SELECT COUNT(*) FROM pred
                  WHERE predicted <> c.cls AND lang = c.cls) AS fn
          FROM classes c
        )
        SELECT cls,
               CAST(tp AS BIGINT) AS tp,
               CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn,
               ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fp, 1), 6)
                 AS precision_,
               ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fn, 1), 6)
                 AS recall_,
               ROUND(2.0 * tp / GREATEST(2 * tp + fp + fn, 1), 6) AS f1
        FROM m ORDER BY cls
    """,
    doc="Per-class precision/recall/F1 of the q39 language-ID "
    "heuristic against the stored labels — the full multi-class "
    "eval report (q39 emits only the confusion summary; PRF1 is "
    "what a model-selection loop actually thresholds on). Zero-"
    "denominator classes report 0 via the GREATEST(...,1) guard, "
    "the convention that keeps the report total and NULL-free; F1 "
    "uses the 2tp/(2tp+fp+fn) form, which is exact integer algebra "
    "until one final division. Plan shape: one projection computes "
    "predictions (pure regexp_count codegen), one aggregate per "
    "confusion cell class — the class list is bounded by the label "
    "alphabet.",
)
def q205(spark: SparkSession, sf: str) -> DataFrame:
    counts = {lg: _marker_count_spark(ws) for lg, ws in _LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    predicted = (
        F.when(counts["en"] == best, F.lit("en"))
        .when(counts["es"] == best, F.lit("es"))
        .when(counts["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    pred = (
        table(spark, sf, "documents")
        .select("lang", predicted.alias("predicted"))
        .localCheckpoint(eager=False)
    )
    classes = (
        pred.select(F.col("lang").alias("cls"))
        .union(pred.select(F.col("predicted").alias("cls")))
        .distinct()
    )
    cells = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("predicted") == F.col("cls"))
                    & (F.col("lang") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("predicted") == F.col("cls"))
                    & (F.col("lang") != F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("predicted") != F.col("cls"))
                    & (F.col("lang") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    return cells.select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(
            F.col("tp").cast("double")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
            6,
        ).alias("precision_"),
        F.round(
            F.col("tp").cast("double")
            / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("recall_"),
        F.round(
            2.0
            * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("f1"),
    ).orderBy("cls")


@register(
    "q261_fightin_words",
    oracle=r"""
        WITH tok AS (
          SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
          FROM documents
        ),
        src AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t),
        corp AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cc FROM src GROUP BY t),
        stot AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM src GROUP BY source
        ),
        vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                      CAST(SUM(cc) AS BIGINT) AS nn FROM corp),
        z AS (
          SELECT s.source, s.t,
                 (ln((s.c + 1.0) / (st.n + vv.v - s.c - 1))
                  - ln((c.cc - s.c + 1.0)
                       / (vv.nn - st.n + vv.v - (c.cc - s.c) - 1)))
                 / sqrt(1.0 / (s.c + 1) + 1.0 / (c.cc - s.c + 1)) AS zs
          FROM src s
          JOIN corp c ON c.t = s.t
          JOIN stot st ON st.source = s.source
          CROSS JOIN vv
        ),
        rk AS (
          SELECT source, t, ROUND(zs, 4) AS z4,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY ROUND(zs, 4) DESC, t) AS r
          FROM z
        )
        SELECT source, t AS token, z4 AS log_odds_z
        FROM rk WHERE r <= 3
        ORDER BY source, log_odds_z DESC, token
    """,
    doc='The "fightin\' words" statistic (Monroe/Colaresi/Quinn 2008): '
    "per source, the top-3 tokens by the z-scored log-odds-ratio of "
    "source-vs-rest usage under a uniform Dirichlet prior — WHICH "
    "words distinguish a domain, where q111's KL gives one scalar "
    "saying only THAT it differs. The informative-prior z-scoring is "
    "what separates this from raw TF-IDF: rare tokens get shrunk by "
    "the prior and the variance term instead of dominating the "
    "ranking. The per-domain vocabulary fingerprint used for "
    "corpus-drift forensics and mixture documentation. Scale shape: "
    "everything after the one exploded census is vocabulary-sized — "
    "the (source, token) counts aggregate map-side; the corpus "
    "marginal, per-source totals and the 1-row (V, N) reduction "
    "broadcast back onto the census; the top-3 window partitions by "
    "source over census rows. Determinism: ranking on the ROUNDED "
    "4-dp z with token tiebreak.",
)
def q261(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    tok = table(spark, sf, "documents").select(
        "source", F.explode(_tokens()).alias("t")
    )
    src = tok.groupBy("source", "t").agg(F.count("*").alias("c"))
    corp = src.groupBy("t").agg(F.sum("c").alias("cc"))
    stot = src.groupBy("source").agg(F.sum("c").alias("n"))
    vv = corp.agg(F.count("*").alias("v"), F.sum("cc").alias("nn"))
    rest_c = F.col("cc") - F.col("c")
    z = (
        src.join(F.broadcast(corp), "t")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(vv))
        .select(
            "source",
            "t",
            (
                (
                    F.log(
                        (F.col("c") + 1.0)
                        / (F.col("n") + F.col("v") - F.col("c") - 1)
                    )
                    - F.log(
                        (rest_c + 1.0)
                        / (F.col("nn") - F.col("n") + F.col("v") - rest_c - 1)
                    )
                )
                / F.sqrt(1.0 / (F.col("c") + 1) + 1.0 / (rest_c + 1))
            ).alias("zs"),
        )
    )
    rk = z.select("source", "t", F.round("zs", 4).alias("z4")).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("z4"), "t")
        ),
    )
    return (
        rk.where(F.col("r") <= 3)
        .select(
            "source", F.col("t").alias("token"), F.col("z4").alias("log_odds_z")
        )
        .orderBy("source", F.desc("log_odds_z"), "token")
    )


@register(
    "q281_readability",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, source, lower(text) AS t FROM documents
    ),
    stats AS (
      SELECT doc_id, source,
             len(string_split_regex(t, '\s+')) AS words,
             GREATEST(len(string_split_regex(t, '[.!?]+')) - 1, 1)
               AS sentences,
             (SELECT SUM(GREATEST(len(string_split_regex(w.w, '[aeiouy]+'))
                                  - 1, 1))
              FROM unnest(string_split_regex(t, '\s+')) AS w(w)) AS syllables
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(words * 1.0 / sentences), 6) AS avg_words_per_sentence,
           ROUND(AVG(syllables * 1.0 / words), 6) AS avg_syllables_per_word,
           ROUND(AVG(0.39 * (words * 1.0 / sentences)
                     + 11.8 * (syllables * 1.0 / words) - 15.59), 4)
             AS fk_grade
    FROM stats GROUP BY source ORDER BY source
""",
    doc="Flesch-Kincaid-style readability per source: words/sentence, "
    "syllables/word (vowel-group count, the standard cheap syllable "
    "proxy), and the FK grade formula 0.39*wps + 11.8*spw - 15.59 - "
    "the audience-level lens the quality family (q40 heuristics, "
    "q110 surprisal, q99 repetition) lacks: surprisal flags "
    "GIBBERISH, readability grades DIFFICULTY, and a pretraining "
    "mix tunes both. Scale shape: pure per-document column "
    "expressions (two regex splits + one higher-order aggregate "
    "over the token array, no explode and no shuffle before the "
    "source-keyed mean) - at 100 TB this is scan-speed work inside "
    "whole-stage codegen. Determinism: integer word/sentence/"
    "syllable counts from identical regex splits; division only in "
    "the rounded outputs.",
)
def q281(spark: SparkSession, sf: str) -> DataFrame:

    base = table(spark, sf, "documents").select(
        "doc_id", "source", F.lower(F.col("text")).alias("t")
    )
    words = F.size(F.split(F.col("t"), r"\s+"))
    sentences = F.greatest(
        F.size(F.split(F.col("t"), r"[.!?]+")) - 1, F.lit(1)
    )
    syl = F.expr(
        "aggregate(transform(split(t, '\\\\s+'),"
        " w -> greatest(size(split(w, '[aeiouy]+')) - 1, 1)),"
        " 0L, (acc, x) -> acc + x)"
    )
    stats = base.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syl.alias("syllables"),
    )
    return (
        stats.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("words") * 1.0 / F.col("sentences")), 6).alias(
                "avg_words_per_sentence"
            ),
            F.round(F.avg(F.col("syllables") * 1.0 / F.col("words")), 6).alias(
                "avg_syllables_per_word"
            ),
            F.round(
                F.avg(
                    0.39 * (F.col("words") * 1.0 / F.col("sentences"))
                    + 11.8 * (F.col("syllables") * 1.0 / F.col("words"))
                    - 15.59
                ),
                4,
            ).alias("fk_grade"),
        )
        .orderBy("source")
    )


@register(
    "q285_inverted_index",
    oracle=r"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(text), '\s+')) AS t
      FROM documents
    ),
    df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY t),
    picks AS (
      SELECT t, df, ROW_NUMBER() OVER (ORDER BY df DESC, t) AS r FROM df
    ),
    t1 AS (SELECT t, df FROM picks WHERE r = 10),
    t2 AS (SELECT t, df FROM picks WHERE r = 11),
    d1 AS (SELECT doc_id FROM tok, t1 WHERE tok.t = t1.t),
    d2 AS (SELECT doc_id FROM tok, t2 WHERE tok.t = t2.t)
    SELECT (SELECT t FROM t1) AS term1,
           (SELECT t FROM t2) AS term2,
           (SELECT df FROM t1) AS df1,
           (SELECT df FROM t2) AS df2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d1
             WHERE doc_id IN (SELECT doc_id FROM d2)) AS n_and,
           (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM
             (SELECT doc_id FROM d1 UNION ALL SELECT doc_id FROM d2) u)
             AS n_or
""",
    doc="Inverted-index build + boolean retrieval: the (token -> "
    "posting list) index is the distinct exploded census with "
    "document frequencies; the query picks the 10th/11th most "
    "frequent terms deterministically and answers term1 AND term2 "
    "/ OR via posting intersection (semi-join) and union — the "
    "core IR indexing operator underneath q121's BM25 (which "
    "SCORES postings; this builds and intersects them). Scale "
    "shape: the index is one exploded distinct + one count "
    "aggregate, both map-side combinable; intersection is an "
    "equi-semi-join on doc_id keyed by the shorter posting list — "
    "never a scan of the corpus at query time. At 100 TB the "
    "posting table is the searchable artifact a writer would "
    "bucket by term. Determinism: exact document frequencies, "
    "term picks tie-broken lexicographically.",
)
def q285(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    tok = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
        )
        .distinct()
        # six consumers (census, two term picks, two posting lists, the
        # OR leg) — checkpoint so tokenize+distinct runs once, not per
        # broadcast subplan
        .localCheckpoint(eager=False)
    )
    df = tok.groupBy("t").agg(F.count("*").alias("df"))
    picks = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("df"), "t"))
    )
    t1 = picks.where(F.col("r") == 10).select(
        F.col("t").alias("term1"), F.col("df").cast("long").alias("df1")
    )
    t2 = picks.where(F.col("r") == 11).select(
        F.col("t").alias("term2"), F.col("df").cast("long").alias("df2")
    )
    d1 = tok.join(
        F.broadcast(t1.select(F.col("term1").alias("t"))), "t"
    ).select("doc_id")
    d2 = tok.join(
        F.broadcast(t2.select(F.col("term2").alias("t"))), "t"
    ).select("doc_id")
    n_and = d1.join(d2, "doc_id", "left_semi").agg(
        F.count("*").cast("long").alias("n_and")
    )
    n_or = (
        d1.unionByName(d2)
        .distinct()
        .agg(F.count("*").cast("long").alias("n_or"))
    )
    return (
        t1.crossJoin(t2)
        .crossJoin(n_and)
        .crossJoin(n_or)
        .select("term1", "term2", "df1", "df2", "n_and", "n_or")
    )


_RAKE_STOP = (
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with"
)
_RAKE_STOP_SQL = "(" + ",".join(f"'{w}'" for w in _RAKE_STOP) + ")"


@register(
    "q316_rake_keyphrases",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, t.tok AS tok, t.pos AS pos,
                 CASE WHEN t.tok IN {_RAKE_STOP_SQL} THEN 1 ELSE 0 END AS stop
          FROM documents,
               LATERAL (SELECT UNNEST(string_split_regex(lower(text),
                                      '[^a-z]+')) AS tok,
                        generate_subscripts(
                          string_split_regex(lower(text), '[^a-z]+'), 1)
                          AS pos
               ) t
          WHERE t.tok <> ''
        ),
        isl AS (
          SELECT doc_id, tok, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS island
          FROM (SELECT * FROM tok WHERE stop = 0)
        ),
        phr AS (
          SELECT doc_id, island,
                 string_agg(tok, ' ' ORDER BY pos) AS phrase,
                 COUNT(*) AS plen
          FROM isl GROUP BY doc_id, island
        ),
        wscore AS (
          SELECT tok, SUM(plen) * 1.0 / COUNT(*) AS score
          FROM isl i JOIN phr p ON p.doc_id = i.doc_id
                                AND p.island = i.island
          GROUP BY tok
        ),
        pscore AS (
          SELECT p.phrase, SUM(w.score) AS score
          FROM isl i
          JOIN phr p ON p.doc_id = i.doc_id AND p.island = i.island
          JOIN wscore w ON w.tok = i.tok
          WHERE p.plen BETWEEN 2 AND 4
          GROUP BY p.doc_id, p.island, p.phrase
        )
        SELECT phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               ROUND(MAX(score), 6) AS rake_score
        FROM pscore
        GROUP BY phrase
        ORDER BY ROUND(MAX(score), 6) DESC, phrase
        LIMIT 15
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal runs of non-stopword tokens (gaps-and-"
    "islands per document on a fixed 10-word stoplist), each word "
    "scored degree/frequency (degree = total length of phrases "
    "containing it), each 2-4-word phrase scored as the sum of its "
    "word scores — the unsupervised keyphrase baseline that, unlike "
    "q46's TF-IDF unigrams or q200's PMI bigrams, surfaces "
    "MULTI-WORD terms without needing document frequency at all. "
    "Top-15 phrases by rounded score with phrase tiebreak. Plan "
    "shape: tokenize-explode, the island window is PARTITIONED BY "
    "doc_id (per-key parallel), then three keyed aggregates/joins "
    "on phrase/word censuses; TakeOrdered(15), no global sort.",
)
def q316(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from harmony_spark.io import table_parallel

    toks = F.split(F.lower(F.col("text")), r"[^a-z]+")
    tok = (
        table_parallel(spark, sf, "documents")
        .select("doc_id", F.posexplode(toks).alias("pos0", "tok"))
        .where(F.col("tok") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    nonstop = tok.where(~F.col("tok").isin(*_RAKE_STOP))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = nonstop.withColumn("island", F.col("pos") - F.row_number().over(w))
    phr = isl.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    wscore = (
        isl.join(phr, ["doc_id", "island"])
        .groupBy("tok")
        .agg((F.sum("plen") * 1.0 / F.count("*")).alias("score"))
    )
    pscore = (
        isl.join(phr, ["doc_id", "island"])
        .where(F.col("plen").between(2, 4))
        .join(wscore, "tok")
        .groupBy("doc_id", "island", "phrase")
        .agg(F.sum("score").alias("score"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(15)
    )


_KN_D = 0.75


@register(
    "q335_kneser_ney",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, t.tok AS tok, t.pos AS pos
          FROM documents,
               LATERAL (SELECT UNNEST(string_split_regex(lower(text),
                                      '[^a-z]+')) AS tok,
                        generate_subscripts(
                          string_split_regex(lower(text), '[^a-z]+'), 1)
                          AS pos
               ) t
          WHERE t.tok <> ''
        ),
        big AS (
          SELECT doc_id, tok AS w1,
                 LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM tok
        ),
        bc AS (
          SELECT w1, w2, COUNT(*) AS c FROM big WHERE w2 IS NOT NULL
          GROUP BY w1, w2
        ),
        uc AS (SELECT w1, SUM(c) AS cu, COUNT(*) AS types
               FROM bc GROUP BY w1),
        cont AS (SELECT w2, COUNT(*) AS nc FROM bc GROUP BY w2),
        nbig AS (SELECT COUNT(*) AS nb FROM bc),
        kn AS (
          SELECT bc.w1, bc.w2, bc.c,
                 GREATEST(bc.c - {_KN_D}, 0) / uc.cu
                 + ({_KN_D} / uc.cu) * uc.types
                   * (cont.nc * 1.0 / (SELECT nb FROM nbig)) AS p_kn
          FROM bc
          JOIN uc ON uc.w1 = bc.w1
          JOIN cont ON cont.w2 = bc.w2
          WHERE bc.c >= 5
        )
        SELECT w1, w2, CAST(c AS BIGINT) AS c, ROUND(p_kn, 6) AS p_kn
        FROM kn
        ORDER BY ROUND(p_kn, 6) DESC, w1, w2
        LIMIT 20
    """,
    doc="Interpolated Kneser-Ney bigram probabilities (absolute "
    "discount D = 0.75): P(w2|w1) = max(c-D,0)/c(w1) + backoff mass "
    "* continuation probability, where the continuation prob counts "
    "DISTINCT LEFT CONTEXTS (N1+(.,w2)/N1+(.,.)) rather than raw "
    "frequency — the smoothing insight ('Francisco' is frequent but "
    "only ever follows 'San', so its unigram backoff should be "
    "tiny) that made KN the standard n-gram LM before neural LMs, "
    "and still the scoring backbone of fast corpus-quality filters "
    "next to q110's unsmoothed surprisal and q230's Markov "
    "perplexity. Top-20 bigrams (count >= 5) by smoothed "
    "probability. Plan shape: doc-partitioned LEAD windows for "
    "bigrams, three keyed censuses (bigram, left-context, "
    "continuation) joined back, one 1-row distinct-bigram total; "
    "TakeOrdered(20).",
)
def q335(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    from harmony_spark.io import table_parallel

    toks = F.split(F.lower(F.col("text")), r"[^a-z]+")
    tok = (
        table_parallel(spark, sf, "documents")
        .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .where(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    # bc feeds FOUR consumers (the nb census, uc, cont, the final join):
    # lazy checkpoint materialized by the nb count — the tokenize +
    # lead-window + bigram aggregate runs once, not four times
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    nb = bc.count()
    uc = bc.groupBy("w1").agg(
        F.sum("c").alias("cu"), F.count("*").alias("types")
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("nc"))
    kn = (
        bc.where(F.col("c") >= 5)
        .join(uc, "w1")
        .join(cont, "w2")
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.round(
                F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("cu")
                + (_KN_D / F.col("cu"))
                * F.col("types")
                * (F.col("nc") * 1.0 / nb),
                6,
            ).alias("p_kn"),
        )
    )
    return kn.orderBy(F.desc("p_kn"), "w1", "w2").limit(20)


@register(
    "q351_ttr_hapax",
    oracle=r"""
        WITH toks AS (
          SELECT d.source AS source,
                 unnest(string_split_regex(lower(d.text), '\s+')) AS tok
          FROM documents d
        ),
        census AS (
          SELECT source, tok, COUNT(*) AS f
          FROM toks WHERE tok <> '' GROUP BY source, tok
        )
        SELECT source,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               ROUND(COUNT(*) * 1.0 / SUM(f), 6) AS ttr,
               CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax,
               ROUND(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS hapax_share
        FROM census GROUP BY source ORDER BY source
    """,
    doc="Lexical-diversity census per source: corpus-level type-token "
    "ratio and the hapax-legomenon share (fraction of the vocabulary "
    "seen exactly once) — the two classical vocabulary-health "
    "numbers between q150's per-DOC distinct ratio and q204's "
    "Heaps-law growth fit; a crawler loop or template corpus shows "
    "up as a collapsing hapax share long before dedup metrics move. "
    "One exploded token census keyed on (source, token) — the "
    "shuffle is the census, never the raw text — then a bounded "
    "per-source rollup.",
)
def q351(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    d = table_parallel(spark, sf, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    census = toks.groupBy("source", "tok").agg(F.count("*").alias("f"))
    return (
        census.groupBy("source")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.round(F.count("*") / F.sum("f"), 6).alias("ttr"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.round(
                F.sum(F.when(F.col("f") == 1, 1).otherwise(0)) / F.count("*"),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


@register(
    "q372_trigram_novelty",
    oracle=r"""
        WITH sh AS (
          SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, len(toks) - 1),
                        i -> md5(array_to_string(toks[i:i+2], ' ')))) AS g
          FROM (SELECT doc_id, source,
                       string_split_regex(lower(text), '\s+') AS toks
                FROM documents)
          WHERE len(toks) >= 3
        ),
        counts AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY g),
        nov AS (
          SELECT sh.doc_id, sh.source, COUNT(*) AS n_tri,
                 SUM(CASE WHEN c.nd = 1 THEN 1 ELSE 0 END) AS n_unique
          FROM sh JOIN counts c USING (g)
          GROUP BY sh.doc_id, sh.source
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(n_unique * 1.0 / n_tri), 6) AS mean_novelty,
               ROUND(SUM(n_unique) * 1.0 / SUM(n_tri), 6) AS pooled_novelty
        FROM nov GROUP BY source ORDER BY source
    """,
    doc="Per-document trigram novelty (self-BLEU complement): the "
    "fraction of a document's DISTINCT 3-grams that occur in no other "
    "document, averaged per source — the corpus-diversity health "
    "metric that catches template farms and near-boilerplate sources "
    "BEFORE pairwise dedup runs (a source whose novelty collapses is "
    "where q34/q358 will find their duplicates). Per-doc and pooled "
    "(token-weighted) variants disagree exactly when novelty "
    "correlates with length — reporting both exposes that. Plan: "
    "row-local md5 trigram explode (16-byte digests shuffle, never "
    "token text), one distinct-doc count per trigram, a semi-join "
    "back, two bounded aggregates. Read against q86 (shared-shingle "
    "census) and q150 (corpus health).",
)
def q372(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    tri = F.expr(
        "transform(sequence(0, size(toks) - 3), "
        "i -> md5(concat_ws(' ', slice(toks, i + 1, 3))))"
    )
    sh = (
        table_parallel(spark, sf, "documents")
        .select(
            "doc_id", "source", F.split(F.lower("text"), r"\s+").alias("toks")
        )
        .where(F.size("toks") >= 3)
        .select("doc_id", "source", F.explode(tri).alias("g"))
        .distinct()
    )
    counts = sh.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    nov = (
        sh.join(counts, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tri"),
            F.sum((F.col("nd") == 1).cast("int")).alias("n_unique"),
        )
    )
    return (
        nov.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_unique") / F.col("n_tri")), 6).alias(
                "mean_novelty"
            ),
            F.round(F.sum("n_unique") / F.sum("n_tri"), 6).alias(
                "pooled_novelty"
            ),
        )
        .orderBy("source")
    )


@register(
    "q373_simpson_diversity",
    oracle=r"""
        WITH tok AS (
          SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
          FROM documents
        ),
        f AS (SELECT source, t, COUNT(*) AS c FROM tok WHERE t <> ''
              GROUP BY source, t),
        g AS (SELECT source, SUM(c) AS n, SUM(c * c) AS c2, COUNT(*) AS v
              FROM f GROUP BY source)
        SELECT source, CAST(n AS BIGINT) AS n_tokens,
               CAST(v AS BIGINT) AS vocab,
               ROUND(1 - c2 / (1.0 * n * n), 6) AS simpson_diversity,
               ROUND(1.0 * n * n / c2, 6) AS effective_vocab
        FROM g ORDER BY source
    """,
    doc="Simpson diversity of each source's token distribution: "
    "lambda = Σp_i² from EXACT integer moments (Σc², Σc — no "
    "probability column, no float summation surface), diversity = "
    "1 − λ, effective vocabulary = 1/λ (the 'how many equally-common "
    "tokens would look like this' number). The collision-probability "
    "view of concentration — complements q193's Zipf tail exponent "
    "(shape of the tail) and the entropy in q150 (log-scale): Simpson "
    "is dominated by the HEAD, so a boilerplate-heavy source drops "
    "here first. Plan: one (source, token) hash aggregate then a "
    "|sources|-row census — single shuffle at 100 TB.",
)
def q373(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    tok = (
        table_parallel(spark, sf, "documents")
        .select(
            "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
        )
        .where(F.col("t") != "")
    )
    f = tok.groupBy("source", "t").agg(F.count("*").alias("c"))
    g = f.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
        F.count("*").alias("v"),
    )
    # n*n in BIGINT wraps once a source exceeds ~3e9 tokens; the
    # oracle's 1.0*n*n promotes to double — do the same here.
    lam = F.col("c2") / (F.col("n").cast("double") * F.col("n"))
    return (
        g.select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("v").cast("long").alias("vocab"),
            F.round(1 - lam, 6).alias("simpson_diversity"),
            F.round(1 / lam, 6).alias("effective_vocab"),
        )
        .orderBy("source")
    )


_LLR_MIN = 10  # minimum bigram count for the collocation table


@register(
    "q379_dunning_collocations",
    oracle=rf"""
        WITH toks AS (
          SELECT string_split_regex(lower(text), '\s+') AS t FROM documents
        ),
        bigrams AS (
          SELECT u.w1, u.w2
          FROM (SELECT unnest(list_transform(range(1, len(t)),
                       i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS u
                FROM toks WHERE len(t) >= 2)
          WHERE u.w1 <> '' AND u.w2 <> ''
        ),
        k AS (SELECT w1, w2, COUNT(*) AS k11 FROM bigrams GROUP BY w1, w2),
        r AS (SELECT w1, COUNT(*) AS r1 FROM bigrams GROUP BY w1),
        c AS (SELECT w2, COUNT(*) AS c1 FROM bigrams GROUP BY w2),
        nn AS (SELECT COUNT(*) AS n FROM bigrams),
        j AS (
          SELECT k.w1, k.w2, k.k11, r.r1, c.c1, nn.n
          FROM k JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN nn
          WHERE k.k11 >= {_LLR_MIN}
        ),
        l AS (
          SELECT w1, w2, k11,
                 2.0 * (
                   (CASE WHEN k11 > 0 THEN k11 * LN(k11
                        / (r1 * 1.0 * c1 / n)) ELSE 0 END)
                 + (CASE WHEN r1 - k11 > 0 THEN (r1 - k11) * LN((r1 - k11)
                        / (r1 * 1.0 * (n - c1) / n)) ELSE 0 END)
                 + (CASE WHEN c1 - k11 > 0 THEN (c1 - k11) * LN((c1 - k11)
                        / ((n - r1) * 1.0 * c1 / n)) ELSE 0 END)
                 + (CASE WHEN n - r1 - c1 + k11 > 0
                         THEN (n - r1 - c1 + k11) * LN((n - r1 - c1 + k11)
                        / ((n - r1) * 1.0 * (n - c1) / n)) ELSE 0 END)
                 ) AS llr
          FROM j
        )
        SELECT w1, w2, CAST(k11 AS BIGINT) AS n_bigram,
               ROUND(llr, 6) AS llr
        FROM l ORDER BY llr DESC, w1, w2 LIMIT 15
    """,
    doc="Dunning log-likelihood-ratio collocations (the G² test over "
    "each bigram's 2x2 contingency vs its unigram margins): the "
    "count-robust collocation score that, unlike q200's PMI, does NOT "
    "explode on rare pairs (PMI is maximized by hapax bigrams; LLR "
    "weights evidence by volume — the reason Dunning 1993 replaced "
    "PMI in collocation pipelines). Zero cells contribute 0 by the "
    "0·ln0 = 0 convention, encoded identically as guarded CASEs on "
    "both engines. Plan: one row-local bigram explode, three hash "
    "aggregates (pair, left margin, right margin), margins broadcast "
    "back — the shuffles are all token-keyed, nothing pairwise. "
    "Top-15 by (6-dp LLR, words) so the ordering never depends on "
    "sub-rounding float noise.",
)
def q379(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    bg = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))"
    )
    bigrams = (
        table_parallel(spark, sf, "documents")
        .select(F.split(F.lower("text"), r"\s+").alias("toks"))
        .where(F.size("toks") >= 2)
        .select(F.explode(bg).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    k11 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("k11"))
    r1 = bigrams.groupBy("w1").agg(F.count("*").alias("r1"))
    c1 = bigrams.groupBy("w2").agg(F.count("*").alias("c1"))
    nn = bigrams.agg(F.count("*").alias("n"))
    # r1/c1 are vocabulary-scale (unbounded on a real corpus) — no
    # broadcast hint; AQE picks broadcast when they fit and falls back
    # to a shuffle join when they don't.  Only the 1-row census nn is
    # an always-safe broadcast.
    j = (
        k11.join(r1, "w1")
        .join(c1, "w2")
        .crossJoin(F.broadcast(nn))
        .where(F.col("k11") >= _LLR_MIN)
    )
    kk11 = F.col("k11").cast("double")
    kk12 = (F.col("r1") - F.col("k11")).cast("double")
    kk21 = (F.col("c1") - F.col("k11")).cast("double")
    kk22 = (F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")).cast(
        "double"
    )
    n_d = F.col("n").cast("double")
    r_d = F.col("r1").cast("double")
    c_d = F.col("c1").cast("double")

    def term(k, e):
        return F.when(k > 0, k * F.log(k / e)).otherwise(F.lit(0.0))

    llr = 2.0 * (
        term(kk11, r_d * c_d / n_d)
        + term(kk12, r_d * (n_d - c_d) / n_d)
        + term(kk21, (n_d - r_d) * c_d / n_d)
        + term(kk22, (n_d - r_d) * (n_d - c_d) / n_d)
    )
    return (
        j.select(
            "w1",
            "w2",
            F.col("k11").cast("long").alias("n_bigram"),
            F.round(llr, 6).alias("llr"),
        )
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(15)
    )
