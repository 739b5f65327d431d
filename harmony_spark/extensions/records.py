"""Entity resolution (record linkage): blocking + pairwise string
similarity + transitive clustering.

The classic three-stage match pipeline (Fellegi-Sunter shape, here
with deterministic edit-distance scoring): (1) BLOCK records by a
cheap key so candidate pairs are generated bucket-locally — never a
global cross join; (2) SCORE each in-block pair with an edit-distance
comparator on a normalized key field; (3) CLUSTER matching pairs with
connected components so A~B~C resolves into one entity even when A-C
never scored. The same discipline as the MinHash/SRP dedup family
(extensions/dedup.py): pair generation is the scale hazard, and the
block key bounds it. At 100 TB the block key must carry enough entropy
(compose multiple fields); a hot block is handled exactly like a hot
LSH band — re-key on extra features (operators/skew.py tools apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harmony_spark.operators.graph import connected_components
from harmony_spark.registry import register

ER_HEAD_CHARS = 30  # normalized comparison key: first 30 chars
ER_MAX_EDITS = 10  # levenshtein threshold on the head


def _doc_entities(spark: SparkSession, sf: str) -> DataFrame:
    """The resolved document-entity partition (node, component) shared
    VERBATIM by q167 and q273: identical rec projection (30-char head,
    first-two-token block), identical resolve_entities parameters.
    Session-memoized (io.session_memo) so a warm session pays the
    blocking join + star-CC rounds once — the same shared-graph-build
    memo the r6 verdict prescribed for q292/q352 and q75/q224."""
    from harmony_spark.io import session_memo, table_parallel

    def build() -> DataFrame:
        toks = F.split(F.lower("text"), r"\s+")
        rec = table_parallel(spark, sf, "documents").select(
            "doc_id",
            F.substring(F.lower("text"), 1, ER_HEAD_CHARS).alias("head"),
            F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk"),
        )
        return resolve_entities(
            rec, id_col="doc_id", key_col="head", block_col="blk"
        )

    return session_memo(spark, ("doc_entities", sf), build)


def resolve_entities(
    records: DataFrame,
    id_col: str,
    key_col: str,
    block_col: str,
    max_edits: int = ER_MAX_EDITS,
) -> DataFrame:
    """Cluster records whose ``key_col`` values are within
    ``max_edits`` levenshtein distance, considering only pairs that
    share ``block_col``. Returns DataFrame[node, component] over
    records that matched at least one other record (the CC contract:
    singletons are absent — same as q73).
    """
    keyed = records.select(
        F.col(id_col).alias("rid"),
        F.col(key_col).alias("k"),
        F.col(block_col).alias("blk"),
    ).localCheckpoint(eager=False)
    a, b = keyed.alias("a"), keyed.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .where(F.levenshtein(F.col("a.k"), F.col("b.k")) <= max_edits)
        .select(F.col("a.rid").alias("src"), F.col("b.rid").alias("dst"))
        .distinct()
    )
    return connected_components(edges)


@register(
    "q167_entity_resolution",
    oracle=f"""
        WITH RECURSIVE rec AS (
          SELECT doc_id,
                 substr(lower(text), 1, {ER_HEAD_CHARS}) AS k,
                 list_aggr(string_split_regex(lower(text), '\\s+')[1:2],
                           'string_agg', ' ') AS blk
          FROM documents
        ),
        e AS (
          SELECT a.doc_id AS da, b.doc_id AS db
          FROM rec a JOIN rec b
            ON a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.k, b.k) <= {ER_MAX_EDITS}
        ),
        bi AS (SELECT da AS a, db AS b FROM e
               UNION ALL SELECT db AS a, da AS b FROM e),
        reach(a, b) AS (
          SELECT a, b FROM bi
          UNION
          SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a),
        cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS entity_id
               FROM reach GROUP BY a)
        SELECT entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MAX(doc_id) AS BIGINT) AS max_member
        FROM cc GROUP BY entity_id ORDER BY entity_id
    """,
    doc="Entity resolution over documents: block on the first two "
    "tokens (cheap deterministic key), score in-block pairs with "
    "levenshtein on the normalized 30-char head, and resolve matches "
    "transitively with connected components (large/small-star, "
    "O(log n) rounds) — the record-linkage pipeline behind customer "
    "dedup and citation matching, sharing the bucket-local pair "
    "discipline of the MinHash family. Spark's iterative star CC and "
    "DuckDB's recursive-CTE transitive closure are independent "
    "algorithms agreeing on the entity partition. Scale note: the "
    "block key is the fan-out bound — compose more fields (or re-key "
    "hot blocks, operators/skew.py) when a block outgrows an "
    "executor.",
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    cc = _doc_entities(spark, sf)
    return (
        cc.groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("node").cast("long").alias("max_member"),
        )
        .orderBy("entity_id")
    )


@register(
    "q273_golden_record",
    oracle=rf"""
        WITH RECURSIVE rec AS (
          SELECT doc_id, lang, n_chars,
                 substr(lower(text), 1, {ER_HEAD_CHARS}) AS k,
                 list_aggr(string_split_regex(lower(text), '\s+')[1:2],
                           'string_agg', ' ') AS blk
          FROM documents
        ),
        e AS (
          SELECT a.doc_id AS da, b.doc_id AS db
          FROM rec a JOIN rec b
            ON a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.k, b.k) <= {ER_MAX_EDITS}
        ),
        bi AS (SELECT da AS a, db AS b FROM e
               UNION ALL SELECT db AS a, da AS b FROM e),
        reach(a, b) AS (
          SELECT a, b FROM bi
          UNION
          SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a),
        cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS entity_id
               FROM reach GROUP BY a),
        mem AS (
          SELECT cc.entity_id, d.doc_id, d.lang, d.n_chars
          FROM cc JOIN documents d ON d.doc_id = cc.doc_id
        ),
        keeper AS (
          SELECT entity_id, doc_id AS keeper_doc FROM (
            SELECT entity_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY entity_id
                                      ORDER BY n_chars DESC, doc_id) AS r
            FROM mem
          ) t WHERE r = 1
        ),
        langmode AS (
          SELECT entity_id, lang AS mode_lang FROM (
            SELECT entity_id, lang, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY entity_id
                                      ORDER BY COUNT(*) DESC, lang) AS r
            FROM mem GROUP BY entity_id, lang
          ) t WHERE r = 1
        )
        SELECT m.entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MAX(k.keeper_doc) AS BIGINT) AS keeper_doc,
               MAX(lm.mode_lang) AS mode_lang,
               CAST(SUM(m.n_chars) AS BIGINT) AS total_chars
        FROM mem m
        JOIN keeper k ON k.entity_id = m.entity_id
        JOIN langmode lm ON lm.entity_id = m.entity_id
        GROUP BY m.entity_id ORDER BY m.entity_id
    """,
    doc="Survivorship / golden-record construction — the step AFTER "
    "entity resolution (q167) that master-data management actually "
    "ships: per resolved entity, the canonical record by the "
    "longest-record-wins rule (max n_chars, doc-id tiebreak), the "
    "mode language (most frequent value, deterministic min-value "
    "tiebreak — the per-field survivorship vote), and the merged "
    "total size. Field-level survivorship is what distinguishes MDM "
    "merge from plain dedup keep-one (q224 keeps a row; this FUSES "
    "rows field-by-field). Scale shape: reuses resolve_entities "
    "(bucket-local pair generation + O(log n) star CC); everything "
    "after is (entity)-keyed aggregates and two argmax windows over "
    "cluster-sized groups. The oracle replays the identical closure "
    "recursively plus the same deterministic votes.",
)
def q273(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    docs = table_parallel(spark, sf, "documents")
    cc = _doc_entities(spark, sf)
    # mem feeds two aggregates below; cc is already an eagerly
    # checkpointed RDD (resolve_entities) and docs is the cached scan,
    # so re-deriving the broadcast join per branch is cheaper than a
    # localCheckpoint (whose toRdd pays a full Catalyst planning pass —
    # the q137 lesson) — measured both ways, no checkpoint wins here.
    mem = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("entity_id")
    ).join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
    # Survivorship votes as AGGREGATES, not windows (guide §2.4: an
    # argmax needs no sorted window pass — the former plan ran TWO
    # row_number windows plus a third grouped pass over mem, three
    # entity-keyed exchanges where one suffices):
    #  * keeper  = max(struct(n_chars, -doc_id))  — n_chars DESC,
    #    doc_id ASC, fused into the SAME groupBy as count/sum;
    #  * langmode = min(struct(-c, lang))         — c DESC, lang ASC
    #    (strings cannot negate, so min with negated count).
    base = mem.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max(
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
        ).alias("kp"),
    )
    langmode = (
        mem.groupBy("entity_id", "lang")
        .agg(F.count("*").alias("c"))
        .groupBy("entity_id")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lang"))).alias("lm"))
        .select("entity_id", F.col("lm.lang").alias("mode_lang"))
    )
    return (
        base.join(langmode, "entity_id")
        .select(
            "entity_id",
            "n_members",
            (-F.col("kp.nd")).cast("long").alias("keeper_doc"),
            "mode_lang",
            "total_chars",
        )
        .orderBy("entity_id")
    )


_FS_M = 0.9  # fixed m-probability (field agreement rate among true matches)


@register(
    "q314_fellegi_sunter",
    oracle=f"""
        WITH rec AS (
          SELECT doc_id,
                 list_aggr(string_split_regex(lower(text), '\\s+')[1:2],
                           'string_agg', ' ') AS blk,
                 CAST(length(text) // 100 AS BIGINT) AS len_b,
                 list_extract(string_split_regex(lower(text), '\\s+'),
                              len(string_split_regex(lower(text), '\\s+')))
                   AS last_tok
          FROM documents
        ),
        n AS (SELECT COUNT(*) AS n FROM rec),
        u_len AS (
          SELECT SUM(POW(cnt * 1.0 / n, 2)) AS u
          FROM (SELECT len_b, COUNT(*) AS cnt FROM rec GROUP BY len_b), n
        ),
        u_last AS (
          SELECT SUM(POW(cnt * 1.0 / n, 2)) AS u
          FROM (SELECT last_tok, COUNT(*) AS cnt FROM rec
                GROUP BY last_tok), n
        ),
        pairs AS (
          SELECT a.doc_id AS da, b.doc_id AS db,
                 CASE WHEN a.len_b = b.len_b THEN 1 ELSE 0 END AS ag_len,
                 CASE WHEN a.last_tok = b.last_tok THEN 1 ELSE 0 END AS ag_last
          FROM rec a JOIN rec b ON a.blk = b.blk AND a.doc_id < b.doc_id
        ),
        scored AS (
          SELECT da, db,
                 (CASE WHEN ag_len = 1 THEN log2({_FS_M} / ul.u)
                       ELSE log2((1 - {_FS_M}) / (1 - ul.u)) END
                  + CASE WHEN ag_last = 1 THEN log2({_FS_M} / ut.u)
                         ELSE log2((1 - {_FS_M}) / (1 - ut.u)) END) AS w
          FROM pairs, u_len ul, u_last ut
        )
        SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db,
               ROUND(w, 6) AS fs_weight
        FROM scored
        ORDER BY ROUND(w, 6) DESC, da, db
        LIMIT 15
    """,
    doc="Fellegi-Sunter probabilistic record-linkage weights over the "
    "q167 blocking scheme (first-two-token block key): per candidate "
    "pair, each comparison field (length bucket, final token) "
    "contributes log2(m/u) on agreement and log2((1-m)/(1-u)) on "
    "disagreement, with u-probabilities ESTIMATED FROM THE DATA as "
    "the random-agreement mass sum(f_i^2) per field and a fixed "
    "m = 0.9 — the 1969 Fellegi-Sunter decision model that turns "
    "q167's hard edit-distance threshold into calibrated match "
    "evidence (rare-value agreements score higher than common-value "
    "ones, which a plain similarity score cannot express). Top-15 "
    "pairs by the 6dp-rounded weight with (da, db) tiebreaks. Plan "
    "shape: pair generation NEVER leaves a block bucket (equi-join "
    "on blk, the LSH-family discipline); the two u-estimates are "
    "1-row censuses broadcast back; TakeOrdered(15), no global "
    "sort.",
)
def q314(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    toks = F.split(F.lower(F.col("text")), r"\s+")
    rec = table_parallel(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk"),
        F.floor(F.length("text") / 100).cast("long").alias("len_b"),
        F.element_at(toks, -1).alias("last_tok"),
    )
    n = rec.count()

    def u_of(col: str, out: str) -> DataFrame:
        return (
            rec.groupBy(col)
            .agg(F.count("*").alias("cnt"))
            .agg(F.sum(F.pow(F.col("cnt") * 1.0 / n, 2)).alias(out))
        )

    u_len = u_of("len_b", "u_len")
    u_last = u_of("last_tok", "u_last")
    a, b = rec.alias("a"), rec.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        (F.col("a.len_b") == F.col("b.len_b")).alias("ag_len"),
        (F.col("a.last_tok") == F.col("b.last_tok")).alias("ag_last"),
    )
    m = float(_FS_M)
    scored = (
        pairs.crossJoin(F.broadcast(u_len))
        .crossJoin(F.broadcast(u_last))
        .select(
            "da",
            "db",
            (
                F.when(F.col("ag_len"), F.log2(m / F.col("u_len"))).otherwise(
                    F.log2((1 - m) / (1 - F.col("u_len")))
                )
                + F.when(
                    F.col("ag_last"), F.log2(m / F.col("u_last"))
                ).otherwise(F.log2((1 - m) / (1 - F.col("u_last"))))
            ).alias("w"),
        )
    )
    return (
        scored.select(
            F.col("da").cast("long").alias("da"),
            F.col("db").cast("long").alias("db"),
            F.round("w", 6).alias("fs_weight"),
        )
        .orderBy(F.desc("fs_weight"), "da", "db")
        .limit(15)
    )
